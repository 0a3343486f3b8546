package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-analysis operators. PageRank is the corpus-curation signal for
  * source/domain authority (the Common-Crawl-style "rank the domains,
  * distrust the fringe" step) expressed over any edge list.
  *
  * Determinism contract shared with the rest of the library: every
  * iteration's per-node contribution is rounded to 14 places and summed as
  * DECIMAL (order-independent addition), and the new rank is re-rounded to
  * 12 places — so the ranks after k unrolled iterations are bit-identical
  * on any partitioning AND reproducible by any engine that follows the
  * same rule (the DuckDB oracle does, one CTE per iteration). All double
  * literals (damping, teleport) are expressed as the same source decimals
  * on both sides, so both engines parse identical doubles and run
  * identical IEEE op sequences.
  *
  * Scale: ranks are |nodes| rows, edges |E| rows; each iteration is one
  * equi-join (edges ⋈ ranks on src) and one partially-aggregated groupBy
  * (dst) — the canonical message-passing shape. Out-degrees are folded
  * into the edge list ONCE up front and the edge table is materialized
  * (it is referenced every iteration); ranks are materialized per
  * iteration to truncate the unrolled lineage, exactly the
  * [[NearDup.connectedComponents]] discipline. On a real cluster the edge
  * list would additionally be bucketed by src so every iteration's join
  * is co-located; the groupBy keys the next ranks by dst, which is the
  * unavoidable shuffle of message passing (GraphX's vertex-cut
  * replication trades it for vertex mirroring — out of scope for an
  * exact-oracle operator).
  */
object Graph {

  /** `iters` unrolled PageRank steps over a directed edge list
    * (`srcCol`, `dstCol` — any integral node ids), damping `d`.
    * Nodes = union of endpoints; initial rank 1/N; a node with no
    * in-edges holds the bare teleport rank; dangling nodes (no
    * out-edges) contribute nothing — their mass leaks, the standard
    * simplification when ranks are compared rather than summed to 1.
    * Returns (node, rank) with rank rounded to 12 places.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, d: Double = 0.85,
               checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // the normalized edge list is referenced by nodes, degrees, AND the
    // join fold — materialize it once or the upstream edge derivation
    // (often itself a join+distinct) re-runs per reference
    // iteration-scoped blocks, re-read `iters` times then dropped —
    // serialized storage (compact bytes, bounded GC scanning) measured
    // 36–43 s → 22–28 s on the cold first sf1 sample and eliminated the
    // first-sample cliff entirely (BASELINE.md §Round 12)
    val e = Par.materialize(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct(),
      StorageLevel.MEMORY_AND_DISK_SER)
    // ONE pass derives the node set AND the receives-mass flag: endpoints
    // tagged with "appears as dst", grouped once — replacing the
    // union-distinct plus a SECOND full dst-distinct pass over the edges
    val flagged = Par.materializeLayout(
      e.select(col("src").as("node"), lit(false).as("_in"))
        .unionByName(e.select(col("dst").as("node"), lit(true).as("_in")))
        .groupBy(col("node")).agg(max(col("_in")).as("_in")),
      StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = flagged.select(col("node"))
    // fold inverse out-degree into the edges once via a window pass: the
    // window both hash-partitions AND sorts the edges by src, and the
    // checkpoint preserves that physical layout, so every iteration's
    // join probes the materialized blocks with NO per-iteration exchange
    // or sort on the edge side (the dst re-shuffle of message passing is
    // the only one left per iteration)
    val withDeg = Par.materializeLayout(
      e.withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))),
      StorageLevel.MEMORY_AND_DISK_SER)
    // N is exact; teleport/init are single IEEE divisions both engines
    // reproduce from the same integers and source-decimal literals
    val n = flagged.count()
    val teleport = (1.0 - d) / n
    // if every node receives mass (no SOURCE-only nodes — nodes with no
    // in-edges; sinks are fine either way), the per-iteration teleport-
    // fallback join against `nodes` is dead code — the flag is a
    // limit-1 probe of the materialized node table and buys `iters`
    // fewer joins (true for any undirected/bidirectional edge list,
    // e.g. the bipartite trade graph)
    val allNodesReceive = flagged.filter(!col("_in")).limit(1).count() == 0
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (it <- 1 to iters) {
      val contrib = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          Portable.roundPortable(col("rank") / col("outdeg").cast("double"), 14)
            .cast("decimal(38,18)").as("c"))
      val summed = contrib.groupBy(col("dst"))
        .agg(sum(col("c")).cast("double").as("s"))
        .select(col("dst").as("node"),
          Portable.roundPortable(lit(teleport) + lit(d) * col("s"), 12).as("rank"))
      val next =
        if (allNodesReceive) summed
        else nodes.join(summed, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("rank"), Portable.roundPortable(lit(teleport), 12)).as("rank"))
      // short unrolls run as ONE plan (each eager checkpoint costs a
      // full job; at 3 iterations that tripled wall-clock on the gate
      // graph); long runs truncate lineage periodically like
      // connectedComponents — the plan, not the values, changes
      ranks = if (it % checkpointEvery == 0 && it < iters)
                Par.materialize(next, StorageLevel.MEMORY_AND_DISK_SER)
              else next
    }
    ranks
  }
}
