package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Physical-plan audit: the properties that decide whether these operators
  * survive a 100 TB / 1000-executor scale-up, asserted on the actual
  * executed plans so a regression (lost pushdown, join strategy flip,
  * accidental cartesian) fails CI instead of surfacing as a slow cluster.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The plan of the frame `build` returns plus every plan building it
    * executed (checkpointed stages, hot-key counts, bounded collects). */
  private def executedPlans(build: => DataFrame): Seq[SparkPlan] = {
    val (df, qes) = executions(build)
    qes.map(_.executedPlan) :+ df.queryExecution.executedPlan
  }

  private def dropCheckpoints(): Unit = {
    spark.catalog.clearCache()
    graft.functions.Par.unpersistAll(spark)
  }

  /** Physical children, looking through AQE wrappers and stage reuse. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  test("incremental scan pushes the nanos cursor bound into the parquet scan") {
    val p = plan("q05_incremental_scan")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      p.take(800))
  }

  test("graft-manifest read: pushdown reaches parquet, codegen'd native scan") {
    import graft.sources.ManifestStore
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    ManifestStore.append(
      (0L until 100L).map(i => (i, s"s$i")).toDF("k", "v"), dir)
    val df = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") > 50L).select("v")
    val p = df.queryExecution.executedPlan.toString
    // predicate pushed into the parquet scan, projection pruned to one
    // column, and the scan fused into whole-stage codegen — the native
    // path, not a Row-boundary relation
    assert(p.contains("GreaterThan(k,50)") && p.contains("PushedFilters: ["),
      p.take(800))
    assert(p.contains("Location: ManifestFileIndex"), p.take(800))
    assert(p.contains("ReadSchema: struct<v:string>") ||
      p.contains("ReadSchema: struct<k:bigint,v:string>"), p.take(800))
    assert(p.contains("*(1)"), p.take(400)) // whole-stage codegen span
    // and ManifestStore.read itself plans through the same FileIndex
    val p2 = ManifestStore.readLatest(spark, dir).filter(col("k") === 7L)
      .queryExecution.executedPlan.toString
    assert(p2.contains("EqualTo(k,7)") &&
      p2.contains("Location: ManifestFileIndex"), p2.take(800))
  }

  test("index appends never touch the corpus: plans scan only the batch") {
    // ShingleIndex.append / VectorIndex.append write EXACTLY these frames
    // (pure functions of the batch). The 100 TB contract is that append
    // cost is ∝ batch: the plan must hold NO scan of the persisted index
    // tables — no parquet read, no ManifestFileIndex listing — whatever
    // size the index has grown to. (Batch-local shuffles are fine; a
    // corpus scan here would make every micro-batch reprocess the lake.)
    import graft.sources.ManifestStore
    import graft.pipeline.{ShingleIndex, VectorIndex}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-audit-ix").toString
    // a non-empty persisted index, so "doesn't scan it" is a real claim
    ShingleIndex.append(spark,  s"$dir/sh",
      Seq((1L, "seed doc text one"), (2L, "seed doc text two"))
        .toDF("doc_id", "text"), ShingleIndex.Params())
    VectorIndex.append(spark, s"$dir/vec",
      Seq((1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)))
        .toDF("vec_id", "embedding"), VectorIndex.Params(dim = 3))

    val batch = Seq((10L, "fresh batch document")).toDF("doc_id", "text")
    val vbatch = Seq((10L, Array(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    // the exact frames append() commits
    val sh = graft.functions.NearDup.shingleDocs(batch, "text", "doc_id", 3)
    val appends = Seq(
      "shingles"  -> sh,
      "postings"  -> sh.select(col("_id"), explode(col("_sh")).as("_h")),
      "vectors"   -> graft.functions.Similarity.prepVectors(vbatch, "vec_id", "embedding"),
      "vpostings" -> graft.functions.Similarity.bucketPostings(
        graft.functions.Similarity.prepVectors(vbatch, "vec_id", "embedding"),
        3, 8, 4, 42L))
    for ((name, df) <- appends) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ManifestFileIndex"),
        s"$name append plan scans a persisted index table:\n" + p.take(800))
      assert(!p.contains("FileScan"),
        s"$name append plan reads files (cost no longer ∝ batch):\n" + p.take(800))
    }
    // and the maintained step stays correct end-to-end: admitting through
    // the index after these appends sees the persisted postings
    assert(ShingleIndex.postings(spark, s"$dir/sh").count() > 0L)
    assert(VectorIndex.postings(spark, s"$dir/vec").count() > 0L)
  }

  test("star join builds broadcast hash joins, never sort-merge, on dim tables") {
    val p = plan("q02_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast:\n" + p.take(800))
    // one shuffle total: the final groupBy. Dim broadcasts are not shuffles.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
  }

  test("group-by aggregations are partial (map-side combine before the exchange)") {
    for (q <- Seq("q01_agg", "q21_dedup_exact", "q31_distinct_agg")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q:\n" + p.take(400))
      // partial + final pair = at least two HashAggregate nodes
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q lost partial agg:\n" + p.take(800))
    }
  }

  test("no query plans a CartesianProduct or a non-tiny BroadcastNestedLoopJoin") {
    // BNLJ is O(|stream| · |build|): acceptable ONLY when the build side is
    // bounded by construction, never when it is the corpus. Each allowlisted
    // query must name the bounded build side here; everything else fails the
    // audit if a non-equi broadcast join sneaks into its plan (this is what
    // caught q34's all-pairs broadcast form and keeps it from coming back).
    val boundedBnljBuild = Map(
      // exact kNN verifier: the broadcast side is the ≤8-row literal QUERY
      // set, not the corpus — the corpus streams through exactly once
      "q23_knn_cosine" -> "8-row query set",
      // fenced ANN (round-10 graduation): the exact-twin subplan carries
      // q23's 8-row query-set broadcast, and the recall gate is a 1-ROW
      // broadcast (the single pass/fail aggregate) joined onto the ≤40
      // emitted rows — both builds bounded by construction, never the
      // corpus (the IVF/IVF-PQ subplans themselves stay equi-join only)
      "q32_ann_ivf" -> "8-row query set + 1-row recall gate",
      "q42_ann_ivfpq" -> "8-row query set + 1-row recall gate",
      // fenced builtin HLL (round-11 graduation): the broadcast side is
      // the 1-ROW pass/fail accuracy gate joined onto the |groups|-row
      // aggregate output — never the events corpus
      "q35_approx_distinct" -> "1-row accuracy gate onto |groups| rows",
      // idf needs the corpus document count on every (group, token) row:
      // the broadcast side is that 1-row aggregate, never the corpus
      "q71_tfidf_terms" -> "1-row corpus-count aggregate",
      // pmi needs the corpus token/bigram totals on every collocation row:
      // the broadcast side is that 1-row totals aggregate
      "q76_pmi_collocations" -> "1-row totals aggregate",
      // centroid↔centroid confusability: both sides of the non-equi
      // compare are the |labels|-row centroid table — bounded by cluster
      // count, never the member corpus (members join their centroid by
      // label equality)
      "q85_cluster_cohesion" -> "|labels|-row centroid table",
      // surprisal needs the corpus grand total on every (doc, token) row:
      // the broadcast side is that 1-row aggregate
      "q93_unigram_surprisal" -> "1-row corpus-total aggregate",
      // BM25 needs (N, avgdl) on every (doc, term) row: 1-row aggregate
      "q96_bm25" -> "1-row corpus-stats aggregate",
      // hybrid fusion: BM25's 1-row stats + the 1-row query vector
      "q97_hybrid_rrf" -> "1-row stats + 1-row query vector",
      // DSIR log-ratios need the corpus/target token totals on every
      // bucket row: the broadcast side is that 1-row totals aggregate
      "q122_dsir_weights" -> "1-row totals aggregate",
      // metrics need each query's 1-row relevance total on its single
      // metrics row; BM25's 1-row stats as in q96
      "q124_retrieval_metrics" -> "1-row stats + relevance totals",
      // the ladder's last rung is the empty prefix: its crowd is the
      // 1-row corpus count
      "q125_kanon_release" -> "1-row corpus-count aggregate")
    // an eager checkpoint EXECUTES its subplan during query construction
    // and replaces it with an opaque RDD scan, so a BNLJ hidden inside a
    // materialized candidate stage would run for real yet never appear in
    // the query's own plan: audit every plan construction executed too
    for ((name, fn) <- SparkEntry.queries) {
      for (p <- executedPlans(fn(spark, sf)).map(_.toString)) {
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n" + p.take(800))
        if (!boundedBnljBuild.contains(name))
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"$name plans a nested-loop broadcast join (all-pairs scale killer):\n" + p.take(800))
      }
      dropCheckpoints()
    }
  }

  test("incremental semantic admission probes the bucket index, never joins the corpus to itself") {
    // audit every executed plan: materialization checkpoints replace the
    // candidate subplans with opaque RDD scans in the query's own plan and
    // would hide the joins this pin exists to see
    val ps = executedPlans(SparkEntry.queries("q120_semantic_admit")(spark, sf)).map(_.toString)
    dropCheckpoints()
    // admission cost must be |batch| × bucket occupancy: candidates come
    // from equality joins on the _tb bucket key (batch probes the corpus
    // index), never an all-pairs corpus join — the q34/q65 scale contract
    for (p <- ps)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        "semantic admission regressed to an all-pairs join:\n" + p.take(800))
    assert(ps.exists(_.contains("_tb")),
      "bucket-key equi-join missing from the plans:\n" + ps.map(_.take(400)).mkString("\n"))
  }

  test("pagerank keeps its checkpointed edge layout: 3 exchanges, 3 sorts, none on the edge side") {
    // plans/r14/q82_pagerank_after.txt: the edge checkpoint is hash-
    // partitioned and sorted by src, so each iteration's join reads it with
    // no exchange or sort; only the rank side's per-iteration re-shuffle
    // and the final aggregate exchange remain
    import org.apache.spark.sql.execution.{RDDScanExec, SortExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the caller's session must never see AQE switched off, not even while
    // the layout checkpoints run
    @volatile var building = true
    @volatile var sawAqeOff = false
    val probe = new Thread(() => while (building) {
      if (spark.conf.get("spark.sql.adaptive.enabled") != "true") sawAqeOff = true
      Thread.sleep(1)
    })
    probe.start()
    val p = try SparkEntry.queries("q82_pagerank")(spark, sf).queryExecution.executedPlan
      finally { building = false; probe.join() }
    dropCheckpoints()
    assert(!sawAqeOff, "a library call switched the caller's AQE setting")
    val all = nodes(p)
    assert(all.count(_.isInstanceOf[ShuffleExchangeLike]) == 3, p.toString)
    assert(all.count(_.isInstanceOf[SortExec]) == 3, p.toString)
    // every root-to-scan path of the checkpointed edges (the ones carrying
    // outdeg), nearest ancestor first
    def edgePaths(n: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = n match {
      case s: RDDScanExec if s.output.exists(_.name == "outdeg") => Seq(above)
      case _ => children(n).flatMap(edgePaths(_, n :: above))
    }
    val paths = edgePaths(p, Nil)
    assert(paths.size == 3, s"one edge scan per iteration expected:\n$p")
    for (path <- paths) {
      val belowJoin = path.takeWhile(!_.isInstanceOf[BaseJoinExec])
      assert(belowJoin.size < path.size, s"edge scan outside any join:\n$p")
      assert(!belowJoin.exists(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[SortExec]),
        s"the edge side re-shuffles or re-sorts its checkpoint:\n$p")
    }
  }

  test("dup-span stats aggregates partially and never windows the gram stream") {
    val p = plan("q98_dup_substrings")
    // two partial/final aggregate pairs (per-doc-gram, then gram totals)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    // a Window over the exploded grams would shuffle the raw stream with
    // no map-side combine — the ngramNovelty regression class
    assert(!p.contains("Window"), "gram counting must not be a window:\n" + p.take(800))
  }

  test("incremental profile merges states with partial aggregation at every level") {
    val p = plan("q100_incremental_profile")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(800))
  }

  test("BPE pair counting aggregates partially and top-ks without a global sort") {
    val p = plan("q103_bpe_pairs")
    // word-frequency pair + pair-count pair, both map-side combined
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    // top-k must be TakeOrderedAndProject (per-partition heaps), not a
    // full Sort + Limit of the pair table
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("token offsets: shard-partitioned windows + broadcast base join, no global funnel") {
    val p = plan("q105_token_offsets")
    // the corpus-sized windows (shard_pos rank, intra-shard cumsum) must
    // both be partitioned on shard — a Window whose spec loses the shard
    // key is the single-partition global cumsum regression
    // a PARTITIONED spec lists shard before the ordering columns:
    // windowspecdefinition(shard#N, <order> ASC ...); the global-cumsum
    // regression only ORDERS by shard (shard#N ASC — no comma)
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.nonEmpty, p.take(800))
    assert(winSpecs.count(s => "windowspecdefinition\\(shard#\\d+L?,".r
        .findFirstIn(s).isDefined) >= 2,
      s"corpus windows must PARTITION on shard:\n${winSpecs.mkString("\n")}")
    // shard bases come back via broadcast, never a sort-merge of the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("budget select: score-bucketed prefix sums + broadcast bases, no corpus-global window") {
    val p = plan("q123_budget_select")
    // the corpus-sized window (intra-bucket cumulative sum) must be
    // partitioned on the score bucket; only the |distinct scores| base
    // table may use an unpartitioned window spec
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.exists(s => "windowspecdefinition\\(_?score#\\d+L?,".r
        .findFirstIn(s).isDefined),
      s"intra-bucket cumsum must PARTITION on score:\n${winSpecs.mkString("\n")}")
    // bucket bases join back by broadcast, never a sort-merge of the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("bigram surprisal windows run over the aggregated bigram table, not the raw stream") {
    val p = plan("q127_bigram_surprisal")
    // partial/final pair for the (doc, bigram) counts BEFORE any window
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    // both totals windows keyed (bigram / w1) — an unpartitioned window
    // here would funnel the whole bigram table through one partition
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(s =>
        "windowspecdefinition\\((bigram|w1)#\\d+,".r.findFirstIn(s).isDefined),
      s"totals windows must PARTITION on bigram/w1:\n${winSpecs.mkString("\n")}")
  }

  test("padding audit windows stay shard-partitioned; totals aggregate partially") {
    val p = plan("q108_padding_audit")
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(s =>
        "windowspecdefinition\\(_?shard#\\d+L?,".r.findFirstIn(s).isDefined),
      s"every batching window must PARTITION on shard:\n${winSpecs.mkString("\n")}")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("Join"), "padding audit needs no join:\n" + p.take(800))
  }

  test("projection pruning reaches the scan: token count reads only 2 columns") {
    val p = plan("q17_token_count")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), p.take(800))
    assert(!readSchema.contains("lang") && !readSchema.contains("quality"), readSchema)
  }

  test("latest upsert is a single-shuffle partial aggregation (max_by merge)") {
    val p = plan("q10_latest_upsert")
    // the merge itself: object hash aggregate with partial_max_by below one exchange
    assert(p.contains("max_by"), p.take(800))
    assert(p.contains("partial_max_by") || "HashAggregate".r.findAllIn(p).size >= 2,
      "merge must map-side combine:\n" + p.take(800))
  }

  test("staging rewrites the latest table map-only: no Exchange above its scan") {
    import java.time.Instant
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import graft.pipeline._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("audit-stage").toString
    val ex = new Extractor(spark, ExtractorConfig(s"$root/landing", s"$root/state",
      defaultStart = Instant.parse("2024-01-01T00:00:00Z")))
    val st = new Stager(spark, StagerConfig(s"$root/landing", s"$root/state"))
    def feed(rows: (String, String)*) = (_: Instant) => rows
      .map { case (i, t) => (i, java.sql.Timestamp.valueOf(t), "NEW") }.toDF("id", "updated_at", "status")
    ex.runEntity("e", "run1", feed(("a", "2024-02-01 10:00:00"), ("b", "2024-02-01 11:00:00")))
    st.run("e", "run1")
    ex.runEntity("e", "run2", feed(("a", "2024-02-01 12:00:00"), ("c", "2024-02-01 12:30:00")))

    // every root-to-node path ending at a scan of the latest table
    def scanPaths(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "stg_e") =>
        Seq(above)
      case _ => children(p).flatMap(scanPaths(_, p :: above))
    }
    val (result, qes) = executions(st.run("e", "run2"))
    assert(result.rowsUpsertedLatest == 2)
    val writes = qes.map(_.executedPlan).filter(w =>
      nodes(w).exists(_.isInstanceOf[DataWritingCommandExec]) && scanPaths(w, Nil).nonEmpty)
    assert(writes.nonEmpty, "no write over the latest table was captured")
    writes.foreach { w =>
      val shuffles = scanPaths(w, Nil).flatten.filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles.isEmpty, "latest-table rewrite shuffles the existing table:\n" + w)
    }
    assert(spark.read.parquet(st.latestDir("e")).orderBy("id").select("id", "updated_at")
      .as[(String, java.sql.Timestamp)].collect().toSeq.map(r => r._1 -> r._2.toString) ==
      Seq("a" -> "2024-02-01 12:00:00.0", "b" -> "2024-02-01 11:00:00.0",
        "c" -> "2024-02-01 12:30:00.0"))
  }

  test("latest-state dedup map-side combines: no window, partial max_by only") {
    // the window form shuffles EVERY row; keepLastAgg's partial aggregate
    // sends ~one candidate per key per partition across the exchange
    for (q <- Seq("q04_latest_state", "q08_dedup_keeplast")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q fell back to the full-shuffle window form:\n" + p.take(800))
      assert(p.contains("max_by"), s"$q:\n" + p.take(800))
      assert(p.contains("partial_max_by") || "HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost the map-side combine:\n" + p.take(800))
    }
  }

  test("top-k aggregate is partial (bounded heaps cross the exchange, no window)") {
    // q63 is the aggregate's own query; the ANN family ranks its candidate
    // streams through the same bounded heap — none may fall back to a
    // window sort of every scored candidate
    for (q <- Seq("q63_topk_agg", "q23_knn_cosine", "q26_ann_lsh",
                  "q32_ann_ivf", "q42_ann_ivfpq")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q fell back to a window sort:\n" + p.take(800))
      assert(p.contains("graft_topk"), s"$q:\n" + p.take(800))
      assert(p.contains("partial_graft_topk") ||
        "ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost the map-side combine:\n" + p.take(800))
    }
  }

  test("bloom delta probes the sketch on the history side before the anti-join") {
    val p = plan("q64_bloom_delta")
    assert(p.contains("graft_bloom_might_contain"),
      "history side must be bloom-pruned before the exact anti-join:\n" + p.take(800))
  }

  test("as-of join is a single shuffle (union + one window exchange, no join)") {
    val p = plan("q36_asof_join")
    assert(!p.contains("Join"), "as-of must not plan a join:\n" + p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
  }

  test("sessionization reuses the window's partitioning for the session agg") {
    val p = plan("q38_sessionize")
    // one exchange: hashpartitioning(user_id) serves both the window pass
    // and the (user_id, session_seq) group-by above it
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
  }

  test("LSH cosine near-dup never broadcasts the corpus into a nested loop") {
    val p = plan("q50_cosine_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must stay a key-equality bucket join:\n" + p.take(800))
  }

  test("contamination fraction joins fingerprints and partial-aggregates per doc") {
    val p = plan("q116_contamination_frac")
    // the gram collision must stay a key-equality shuffle join — never a
    // broadcast of either corpus — and the per-doc counts must combine
    // map-side before the exchange
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-doc counts lost partial aggregation:\n" + p.take(800))
  }

  test("containment shares the Jaccard index plan: equi-join, partial pair counts") {
    val p = plan("q117_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment candidates must come from the inverted-index equi-join:\n" + p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "pair intersection counts lost partial aggregation:\n" + p.take(800))
  }

  test("range join stays an equi-join on (keys, bucket) — no nested loop") {
    val p = plan("q37_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("native expressions stay inside whole-stage codegen (no fallback barrier)") {
    import graft.plans.GraftFunctions
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"text")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val shingled = docs.select(GraftFunctions.wordShingles(docs, $"text", 3).as("sh"))
    val cosined = emb.select(GraftFunctions.cosine(emb, $"v", $"v").as("sim"))
    val bucketed = emb.select(
      GraftFunctions.hyperplaneBuckets(emb, $"v", 64, 8, 10, 42L).as("bks"))
    val repstats = docs.select(
      GraftFunctions.gramRepetitionStats(docs, $"text", 2).as("rs"))
    val entstats = docs.select(
      GraftFunctions.charEntropyStats(docs, $"text").as("es"))
    val quant = emb.select(GraftFunctions.int8QuantStats(emb, $"v").as("qs"))
    val nfcd = docs.select(GraftFunctions.unicodeNormalize(docs, $"text").as("nf"))
    val bpeSeg = docs.select(
      graft.functions.Bpe.segment(docs, $"text", Seq(("e", "s"), ("es", "t"))).as("bs"))
    // fallback=false: a janino compile error in the generated code (e.g. an
    // assignment to a pinned isNull literal under non-nullable children)
    // fails the test loudly instead of silently executing interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for ((df, fn) <- Seq((shingled, "graft_shingles"), (cosined, "graft_cosine"),
                           (bucketed, "graft_hyperplane_buckets"),
                           (repstats, "graft_gram_repetition"),
                           (entstats, "graft_char_entropy"),
                           (quant, "graft_int8_quant"),
                           (nfcd, "graft_unicode_normalize_NFC"),
                           (bpeSeg, "graft_bpe_segment"))) {
        df.count()
        val p = df.queryExecution.executedPlan.toString
        // the projection carrying the native expression must be fused (starred
        // `*(n) Project`) — a CodegenFallback expression would demote its whole
        // stage to interpreted row-at-a-time execution
        val exprLine = p.linesIterator.find(_.contains(fn)).getOrElse("")
        assert(exprLine.contains("*("), s"$fn runs outside codegen:\n$exprLine\n" + p.take(600))
      }
      // cosine over NON-NULLABLE children (range-derived arrays): the
      // mismatch-null branch must still generate compilable code — this is
      // the shape that broke when CosineSim inherited child nullability
      val r = spark.range(100).toDF("id")
      val nonNull = r.select(graft.plans.GraftFunctions.cosine(r,
        array($"id".cast("double"), lit(1.0)), array($"id".cast("double"), lit(1.0))).as("c"))
      assert(nonNull.filter($"c" > 0.999999).count() === 100)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("spread widens stats-less (LogicalRDD) inputs to full shuffle width") {
    import spark.implicits._
    // an RDD-backed frame (the foreachBatch shape) has only the sentinel
    // size stat; the projection scales the sentinel below Long.MaxValue, so
    // a plan-level sentinel compare wrongly trusts it — spread must detect
    // the stats-less LEAF and repartition anyway
    val rdd = spark.sparkContext.parallelize(
      (1L to 100L).map(i => (i, s"text $i")), numSlices = 1)
    val df = spark.createDataFrame(rdd).toDF("_id", "_text")
      .select($"_id", $"_text") // the projection every operator applies
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(graft.functions.Par.spread(df).rdd.getNumPartitions === n,
      "stats-less input must be spread to full width")
    // a real parquet scan with known small stats still gets spread
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    assert(graft.functions.Par.spread(docs).rdd.getNumPartitions === n)
  }

  test("driver contract: every oracle has a query; the flagship entry returns rows") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every query has an oracle") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracles: $unchecked")
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
  }

  test("driver contract: query names are unique") {
    // queries and oracleSql are built with toMap, which keeps the last of
    // two specs with one name and drops the other without a word
    val dups = SparkEntry.specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty, s"query names used more than once: $dups")
  }

  test("every query has a frozen bench budget (tools/bench_budgets.json)") {
    // the bench gate is only non-circular if budgets are frozen ahead of the
    // run — a query added without a budget would silently escape the gate
    val budgets = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/bench_budgets.json")))
    val missing = SparkEntry.queries.keySet.filterNot(q => budgets.contains(s""""$q""""))
    assert(missing.isEmpty, s"queries without a frozen bench budget: $missing")
  }

  test("sequence packing is a single shuffle; split assignment has none") {
    val pack = plan("q53_seq_pack")
    assert("Exchange hashpartitioning".r.findAllIn(pack).size == 1, pack.take(800))
    // the split is a pure projection — it must fuse with the scan
    val split = plan("q52_train_split")
    assert(!split.contains("Exchange"), "split must not shuffle:\n" + split.take(800))
  }

  test("trailing RANGE window is a single shuffle (no extra sort exchange)") {
    val p = plan("q46_trailing_window")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(800))
  }

  test("rule audit folds every rule into one scan of the table") {
    // adding a rule must add a sum slot, not a pass: exactly one FileScan
    val p = plan("q89_rule_audit")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "rule audit re-scans the table:\n" + p.take(1200))
  }

  test("weighted sample compiles to TakeOrderedAndProject, never a global sort") {
    val p = plan("q84_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort instead of bounded top-k:\n" + p.take(800))
  }

  test("retrieval rank windows order only TakeOrderedAndProject survivors") {
    // q96/q97 rank via row_number over an unpartitioned window — legal
    // ONLY because the stream has already been cut to k rows by a
    // bounded-heap top-k; ranking the full scored corpus through a
    // single-partition window sort is the scale killer this pins out
    for (q <- Seq("q96_bm25", "q97_hybrid_rrf")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q must pre-cut with a bounded top-k:\n" + p.take(800))
      assert(!p.contains("Exchange rangepartitioning"),
        s"$q plans a global sort:\n" + p.take(800))
    }
  }

  test("snapshot diff shuffles md5 digests, not document bodies") {
    val p = plan("q86_snapshot_diff")
    // the digest must be computed BELOW the join: every Exchange row
    // carries (id, 32-char hash), so no Exchange input includes `text`
    val joinIdx = p.indexOf("SortMergeJoin")
    val scanIdx = p.indexOf("Scan parquet")
    assert(joinIdx >= 0 && p.contains("md5"), p.take(800))
    // projections above the scans drop text before the exchange: the
    // Exchange nodes' column lists must not mention text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      "an exchange carries the document body:\n" + exchanges.mkString("\n"))
    assert(scanIdx >= 0)
  }

  test("concentration curves window over histogram classes, not the corpus") {
    // the only hashpartitioning exchanges belong to the tiny groupBys; the
    // single-partition window runs AFTER aggregation (its input is the
    // |distinct sizes| class table, asserted by the aggregate below it)
    for (q <- Seq("q92_token_concentration", "q94_vocab_coverage")) {
      val p = plan(q)
      // plans print top-down: every Window must sit ABOVE (= print before)
      // the class-building HashAggregate, which itself sits above the scan
      val winIdx = p.indexOf("Window")
      val aggIdx = p.indexOf("HashAggregate")
      val scanIdx = p.indexOf("Scan parquet")
      assert(winIdx >= 0 && aggIdx > winIdx && scanIdx > aggIdx,
        s"$q should aggregate to classes before any window:\n" + p.take(1200))
    }
  }

  test("salted join equals the plain join on a skewed fixture and spreads the hot key") {
    import spark.implicits._
    // 10k rows of one hot key + a tail, joined to a 100-row dim
    val facts = ((1 to 10000).map(i => ("hot", i)) ++ (1 to 500).map(i => (s"k$i", i)))
      .toDF("k", "v")
    val dim = (("hot" +: (1 to 99).map(i => s"k$i")).map(k => (k, s"d-$k"))).toDF("k", "attr")
    val plain = facts.join(dim, Seq("k")).select("k", "v", "attr")
    val salted = graft.functions.Par.saltedJoin(facts, dim, Seq("k"), n = 8)
      .select("k", "v", "attr")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // left-outer keeps unmatched left rows exactly once
    val lo = graft.functions.Par.saltedJoin(facts, dim, Seq("k"), n = 8, "left_outer")
    assert(lo.count() == facts.count())
    // and the hot key's rows really are spread across salt values
    val saltSpread = facts
      .withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(8)).cast("int"))
      .filter($"k" === "hot").select("_salt").distinct().count()
    assert(saltSpread > 1, s"hot key stayed on $saltSpread salt(s)")
  }
}
