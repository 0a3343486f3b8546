package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: exact hash dedup,
  * n-gram Jaccard via inverted shingle index, MinHash+LSH, SimHash.
  *
  * Scale design: the naive all-pairs comparison is O(n²) and dead at 100 TB.
  * Every path here goes through an inverted index or LSH banding so the only
  * shuffles are (a) explode+groupBy on shingle/band keys and (b) a key-
  * equality self-join whose fan-out is bounded by bucket size — candidate
  * generation is ~linear in corpus size for non-degenerate data. Hot keys
  * (stop-shingles shared by everything) are the skew risk: cap bucket size
  * with [[pruneHotKeys]] before the self-join, the standard trick from
  * MinHash-LSH dedup pipelines.
  */
object NearDup {

  /** Exact dedup: one row per distinct content hash with the smallest doc id
    * as the surviving representative and the group size.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  private val log = org.slf4j.LoggerFactory.getLogger("graft.NearDup")

  /** Drop inverted-index keys whose posting list exceeds `maxBucket` — they
    * generate quadratic candidate fan-out while carrying little similarity
    * signal (the df-cutoff heuristic).
    *
    * The cap is NOT silent: the dropped-key count is logged (WARN) so a
    * corpus whose candidate recall is being truncated is visible in the
    * driver log. The hot-key set is materialized once (it is a handful of
    * stop-shingle keys) and served to both the count and the anti-join, so
    * the visibility costs no extra aggregation pass. Note this makes the
    * call EAGER (the posting-list aggregation runs at DataFrame-build
    * time) — consistent with the rest of the near-dup family, whose
    * signature tables are eagerly materialized for multi-reference reuse.
    */
  def pruneHotKeys(exploded: DataFrame, keyCol: String, maxBucket: Int): DataFrame =
    pruneHotKeysCounted(exploded, keyCol, maxBucket)._1

  /** [[pruneHotKeys]] that also reports how many keys were dropped.
    * Callers can specialize their plan on 0 — "nothing was pruned" means
    * pruned-index counts are still exact.
    */
  private[functions] def pruneHotKeysCounted(exploded: DataFrame, keyCol: String,
                                             maxBucket: Int): (DataFrame, Long) = {
    val hot = Par.materialize(exploded.groupBy(col(keyCol)).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxBucket).select(col(keyCol)))
    val nHot = hot.count()
    if (nHot > 0)
      log.warn(s"pruneHotKeys: dropping $nHot hot '$keyCol' key(s) with posting " +
        s"lists > $maxBucket — candidate recall is truncated on those keys")
    (exploded.join(hot, Seq(keyCol), "left_anti"), nHot)
  }

  /** Word n-gram Jaccard similarity over all candidate pairs sharing ≥1
    * shingle: explode distinct shingles → self-join on shingle (inverted
    * index) for candidates → exact |A∩B| / (|A|+|B|−|A∩B|) from the full
    * shingle arrays. Returns (id_a, id_b, common, size_a, size_b, jaccard)
    * with id_a < id_b.
    *
    * The index carries 64-bit shingle FINGERPRINTS (Broder's construction),
    * not shingle strings: the self-join — the operator's dominant shuffle —
    * exchanges 8-byte longs and compares longs, and set sizes/intersections
    * over fingerprints equal those over shingles up to 2⁻⁶⁴ collisions
    * (none on the gate data; the oracle computes string Jaccard, so a
    * collision would surface as a gate mismatch).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
                        minJaccard: Double, maxBucket: Int = 1000): DataFrame = {
    val overlap = ngramOverlapPairs(df, textCol, idCol, n, maxBucket)
    overlap
      .withColumn("jaccard",
        Portable.roundPortable(col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        col("jaccard"))
  }

  /** Word n-gram CONTAINMENT near-dup pairs — Broder's asymmetric overlap
    * |A∩B| / min(|A|, |B|): the measure that catches SUBSET duplication
    * (a short document quoted whole inside a long one, a re-post with
    * added commentary) which symmetric Jaccard structurally misses — a
    * small set fully contained in a large one has Jaccard ≈ |A|/|B| ≈ 0
    * but containment 1.0. The max-direction form (min denominator) is
    * reported so one thresholded query covers both "A in B" and "B in A".
    * Returns (id_a, id_b, common, size_a, size_b, containment),
    * id_a < id_b. Same index, plans, and prune discipline as
    * [[ngramJaccardPairs]] — only the scoring differs.
    */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            n: Int, minContainment: Double,
                            maxBucket: Int = 1000): DataFrame = {
    val overlap = ngramOverlapPairs(df, textCol, idCol, n, maxBucket)
    overlap
      .withColumn("containment",
        Portable.roundPortable(col("common").cast("double") /
          least(col("size_a"), col("size_b")).cast("double"), 4))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        col("containment"))
  }

  /** The shared overlap engine of [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: every candidate pair sharing ≥1 surviving
    * shingle, with its exact distinct-shingle intersection and set sizes —
    * scoring (Jaccard, containment, …) is the caller's one-line wrapper.
    */
  private def ngramOverlapPairs(df: DataFrame, textCol: String, idCol: String,
                                n: Int, maxBucket: Int): DataFrame = {
    // spread the raw rows BEFORE the shingle projection: a Project above the
    // round-robin Exchange runs at full width; below it, on one scan split.
    val base = Par.spread(df.select(col(idCol).as("_id"), col(textCol).as("_text")))
    // native single-pass shingle fingerprinting (text → distinct n-gram
    // hashes); the HOF chain equivalent is interpreted per element and
    // dominates materialization
    val sh = Par.materialize(base.select(col("_id"),
      graft.plans.GraftFunctions.wordShingleHashes(base, col("_text"), n).as("_sh")))
    // NOT materialized, unlike the band index in minhashNearDup: the full
    // inverted index is |docs|·|shingles| rows — recomputing the explode per
    // join side beats checkpointing that volume (measured 2-3× faster)
    val (inv, nHot) = pruneHotKeysCounted(
      sh.select(col("_id"), explode(col("_sh")).as("_shingle")), "_shingle", maxBucket)
    // common must come from the FULL shingle sets: pruning may truncate
    // candidate recall (documented, logged) but must never deflate the
    // reported value of a pair it did surface. Two plans deliver that:
    //  - nothing pruned (the common case): the index join's match count
    //    per pair IS the exact intersection — count it map-side (partial
    //    agg) and join the two size columns; no array re-attachment, no
    //    per-pair intersect.
    //  - keys pruned: generate candidate ids from the pruned index, then
    //    exact-verify with array_intersect over the full arrays, like the
    //    rest of the family.
    if (nHot == 0) {
      val sizes = sh.select(col("_id"), size(col("_sh")).as("_size"))
      inv.as("l").join(inv.as("r"),
          col("l._shingle") === col("r._shingle") && col("l._id") < col("r._id"))
        .groupBy(col("l._id").as("id_a"), col("r._id").as("id_b"))
        .agg(count(lit(1)).as("common"))
        .join(sizes.withColumnsRenamed(Map("_id" -> "id_a", "_size" -> "size_a")), Seq("id_a"))
        .join(sizes.withColumnsRenamed(Map("_id" -> "id_b", "_size" -> "size_b")), Seq("id_b"))
    } else {
      val candIds = inv.as("l").join(inv.as("r"),
          col("l._shingle") === col("r._shingle") && col("l._id") < col("r._id"))
        .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      candIds
        .join(sh.withColumnsRenamed(Map("_id" -> "id_a", "_sh" -> "sh_a")), Seq("id_a"))
        .join(sh.withColumnsRenamed(Map("_id" -> "id_b", "_sh" -> "sh_b")), Seq("id_b"))
        .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("size_a", size(col("sh_a")))
        .withColumn("size_b", size(col("sh_b")))
        .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"))
    }
  }

  /** Exact edit-distance verification of candidate near-dup pairs — the
    * confirm step after any approximate candidate generator (shingle
    * index, MinHash bands, SimHash chunks): Levenshtein distance over the
    * FULL texts, normalized to `1 - dist / max(len)`, keeping pairs at or
    * above `minSim` on the ROUNDED (6-place) similarity so the cut is
    * engine-reproducible.
    *
    * Scale: the O(len²) dynamic program runs ONLY on candidate pairs —
    * never all pairs — and texts are fetched by two id-equi-joins against
    * the corpus (each candidate id pulls its text through a hash join;
    * the corpus is never broadcast or crossed). This is the standard
    * two-phase near-dup shape: cheap recall-oriented candidates, exact
    * precision-oriented verify.
    */
  def editDistanceVerify(df: DataFrame, textCol: String, idCol: String,
                         pairs: DataFrame, minSim: Double = 0.95): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("_ta"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("_tb"))
    // spread the pair ids first: the O(len²) Levenshtein pipeline below
    // otherwise runs at the width AQE leaves on the candidate exchange —
    // 1-2 byte-sized partitions for a KB-scale pair set (see
    // verifyJaccardSides; same collapse, heavier per-row compute)
    Par.spread(pairs.select(col("id_a"), col("id_b")), force = true)
      .join(a, Seq("id_a"))
      .join(b, Seq("id_b"))
      .withColumn("edit_dist", levenshtein(col("_ta"), col("_tb")).cast("long"))
      .withColumn("edit_sim",
        Portable.roundPortable(lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("_ta")), length(col("_tb"))).cast("double"), 6))
      .filter(col("edit_sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("edit_sim"))
  }

  /** Dedup observability: per group (source/domain), how much of its
    * corpus is entangled in near-duplicate pairs — `n_docs`, the count of
    * docs with at least one near-dup anywhere in the corpus, and the
    * rounded rate. A source whose rate spikes is mirroring / being
    * re-crawled / template-spamming; this is the report that decides
    * where dedup budget goes.
    *
    * Built on [[minhashNearDup]] (same parameters as the canonical q24
    * gate query, oracle-equal to exact Jaccard there); the rollup is an
    * id-distinct union, a left semi-style flag join, and a per-group
    * partial agg — nothing beyond the pair generation itself.
    */
  def nearDupPressure(df: DataFrame, textCol: String, idCol: String,
                      groupCol: String, n: Int, k: Int, bands: Int,
                      minJaccard: Double): DataFrame = {
    val pairs = minhashNearDup(df, textCol, idCol, n, k, bands, minJaccard)
    val dupIds = pairs.select(col("id_a").as("_did"))
      .union(pairs.select(col("id_b").as("_did"))).distinct()
    df.select(col(groupCol), col(idCol).as("_docid"))
      .join(dupIds, col("_docid") === col("_did"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_did").isNotNull, 1L).otherwise(0L)).as("n_neardup"))
      .withColumn("dup_rate",
        Portable.roundPortable(col("n_neardup").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (every doc labeled with the
    * min id of its component; the label is the canonical survivor).
    *
    * Min-label propagation with pointer jumping: every node first adopts
    * the smallest label among itself and its neighbors (one join + one
    * groupBy-min, both partially aggregable, shuffle on node id), then
    * shortcuts to its label's label (one self-join of the label table —
    * the path-compression step of Hash-Min / star-contraction CC
    * algorithms). Propagation alone needs diameter-many rounds — dead on a
    * pathological chain; with the jump the adopted label's distance from
    * the component minimum more than doubles per round, so rounds are
    * O(log diameter): a 1000-node chain closes in ~10 rounds, and
    * `maxIter = 25` covers any component a physical corpus can hold
    * (diameter ≳ 2^25). Near-dup graphs are overwhelmingly tiny
    * cliques/chains that close in 2-3 rounds regardless.
    *
    * The FIRST propagation is folded into label initialization: against
    * identity labels the neighbor minimum is just `min(dst)` per `src`, so
    * the initial label table is built by one partial aggregation over the
    * symmetric edge list — same shuffle (hash on node id) the identity
    * init paid for its `distinct`, one join round saved. Soundness is
    * unchanged: any init assigning each node an id from its own component
    * that is ≤ its own id converges to the same fixpoint, and the loop's
    * changed-count certificate (a propagate that moves nothing — which
    * over symmetric edges forces labels constant per component, making
    * the jump the identity as well, so the final round skips it) is what
    * certifies the result, not the trajectory.
    *
    * The driver only orchestrates; per-round state is `localCheckpoint`ed
    * to truncate lineage (iterative DataFrames otherwise replan from
    * scratch each round). `pairs` is materialized once before the
    * symmetric-edge union — the union references it twice, and an
    * unmaterialized pair list would recompute its (expensive: shingle
    * index + self-join) derivation per reference.
    *
    * Returns (`node`, `component`) for every node appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val e = Par.materialize(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = Par.materialize(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    var labels = Par.materialize(
      edges.groupBy(col("src")).agg(min(col("dst")).as("_mn"))
        .select(col("src").as("node"),
          // `least` skips NULLs, but a NULL node id never equi-joins in the
          // loop either — identity init left it NULL; preserve that exactly.
          when(col("src").isNull, col("src"))
            .otherwise(least(col("src"), col("_mn"))).as("component")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnsRenamed(Map("node" -> "dst", "component" -> "_nc")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("_nc")).as("_minNeighbor"))
      // propagate: adopt min(own label, neighbors' labels)
      val prop = Par.materialize(
        labels.join(neighborMin, Seq("node"), "left")
          .select(col("node"),
            least(col("component"), coalesce(col("_minNeighbor"), col("component")))
              .as("component"), col("component").as("_old")))
      val propChanged = prop.filter(col("component") =!= col("_old")).count()
      if (propChanged == 0) {
        // Certificate: a propagate that moves nothing means label(v) <=
        // label(u) across every edge, and edges are symmetric, so labels
        // are CONSTANT per component — the jump is the identity too and
        // the final round's self-join is skipped outright.
        converged = true
        labels = prop.select(col("node"), col("component"))
      } else {
        // jump: component <- label(component). Labels only ever decrease
        // and every label is itself a node, so the lookup always hits and
        // the looked-up label is <= the current one.
        val parent = prop.select(col("node").as("component"), col("component").as("_cc"))
        labels = Par.materialize(
          prop.join(parent, Seq("component"), "left")
            .select(col("node"),
              coalesce(col("_cc"), col("component")).as("component")))
      }
      iter += 1
    }
    require(converged, s"components did not converge in $maxIter rounds " +
      s"(diameter beyond 2^$maxIter — not reachable by a physical pair list)")
    log.info(s"connectedComponents: converged in $iter rounds")
    labels
  }

  /** The deduplicated corpus: every document that is either untouched by
    * `pairs` or the canonical survivor (min id) of its component — the
    * actual output a training pipeline ships. One components pass + one
    * broadcast-sized anti-join against the (tiny) set of dropped ids.
    */
  def canonicalCorpus(df: DataFrame, pairs: DataFrame, idCol: String,
                      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    canonicalCorpusFromClusters(df, connectedComponents(pairs, aCol, bCol), idCol)

  /** [[canonicalCorpus]] over PRECOMPUTED clusters (the output of
    * [[connectedComponents]]) — a pipeline that already built clusters (for
    * reporting, for cluster-size stats) must not pay the pair generation
    * and the component loop a second time to get the corpus; the two
    * heaviest stages of the dedup family are shared through this seam.
    */
  def canonicalCorpusFromClusters(df: DataFrame, clusters: DataFrame,
                                  idCol: String, nodeCol: String = "node",
                                  componentCol: String = "component"): DataFrame = {
    val dropped = clusters
      .filter(col(nodeCol) =!= col(componentCol))
      .select(col(nodeCol).as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical corpus: per near-dup cluster keep the
    * HIGHEST-scoring document (ties → smallest id) instead of
    * [[canonicalCorpusFromClusters]]'s min-id representative — the
    * production keep-longest / keep-best-quality rule (dedup should
    * discard the truncated variants, not whichever happened to get the
    * smallest id). Singletons never appear in `clusters` and are always
    * kept.
    *
    * Scale: the score join touches only clustered nodes (a small fraction
    * of the corpus), the per-cluster argmax is a partially-aggregable
    * `max_by`, and the final membership test is the same left-anti join as
    * the min-id form.
    */
  def canonicalCorpusByScore(df: DataFrame, clusters: DataFrame, idCol: String,
                             score: Column, nodeCol: String = "node",
                             componentCol: String = "component"): DataFrame = {
    val scored = clusters.join(
      df.select(col(idCol).as(nodeCol), score.as("_sc")), nodeCol)
    // min of (-score, id): highest score wins, ties resolve to smallest id.
    // Only the (numeric) score is negated, so the id column keeps its own
    // type's ordering — string ids tie-break lexicographically, not via an
    // ANSI string->double cast
    val keeps = scored.groupBy(col(componentCol))
      .agg(min_by(col(nodeCol), struct((-col("_sc")).as("_neg"), col(nodeCol)))
        .as("_keep"))
    val dropped = clusters.join(keeps, componentCol)
      .filter(col(nodeCol) =!= col("_keep"))
      .select(col(nodeCol).as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Incremental near-dup: pairs between an incoming batch and the
    * existing corpus PLUS batch-internal pairs — never existing×existing,
    * which a maintained corpus has already resolved. This is the
    * production shape of dedup maintenance: per-batch work is
    * |batch| × bucket occupancy (the batch's exploded fingerprints join
    * the corpus's inverted index on 8-byte keys), so a daily batch costs
    * the same whether the corpus holds a million or a billion documents —
    * re-running [[ngramJaccardPairs]] over the union would re-pay the
    * full corpus self-join every batch.
    *
    * Returns (id_a, id_b, jaccard) where id_b is always the batch doc of
    * the pair (for existing↔batch pairs) or the larger id (batch-internal),
    * exact-verified like the full form. At 100 TB the existing index
    * (id, fingerprint) is a maintained table the pipeline appends to —
    * here it is derived from `existing` on the fly.
    */
  def incrementalJaccardPairs(existing: DataFrame, batch: DataFrame,
                              textCol: String, idCol: String, n: Int,
                              minJaccard: Double, maxBucket: Int = 1000): DataFrame = {
    val ex = shingleDocs(existing, textCol, idCol, n)
    incrementalJaccardPairsIndexed(
      ex.select(col("_id"), explode(col("_sh")).as("_h")), ex,
      batch, textCol, idCol, n, minJaccard, maxBucket)
  }

  /** (_id, _sh) shingle-hash sets of a document table — the stored shape of
    * the maintained Jaccard index ([[graft.pipeline.ShingleIndex]]).
    */
  private[graft] def shingleDocs(df: DataFrame, textCol: String,
                                 idCol: String, n: Int): DataFrame = {
    val base = Par.spread(df.select(col(idCol).as("_id"), col(textCol).as("_text")))
    Par.materialize(base.select(col("_id"),
      graft.plans.GraftFunctions.wordShingleHashes(base, col("_text"), n).as("_sh")))
  }

  /** [[incrementalJaccardPairs]] against a PREBUILT corpus index:
    * `exPostings` is the corpus's exploded `(_id, _h)` fingerprint
    * postings, `exShingles` its `(_id, _sh)` shingle-set table (exact
    * verification side) — the maintained-table shape where the pipeline
    * appends to persisted index tables instead of re-deriving them per
    * batch. Only the BATCH is shingled here; semantics equal
    * [[incrementalJaccardPairs]] over whatever corpus the index holds.
    */
  def incrementalJaccardPairsIndexed(exPostings: DataFrame, exShingles: DataFrame,
                                     batch: DataFrame, textCol: String,
                                     idCol: String, n: Int, minJaccard: Double,
                                     maxBucket: Int = 1000): DataFrame = {
    val ba = shingleDocs(batch, textCol, idCol, n)
    val baInv = ba.select(col("_id"), explode(col("_sh")).as("_h"))
    // The corpus index is touched ONLY on the keys the batch actually
    // probes: the leftsemi against the batch's (small, derived from a
    // materialized frame) key set runs as a broadcast filter inside the
    // postings scan, so the hot-key aggregation and the candidate join
    // shuffle |batch keys| × occupancy rows — never the corpus. This is
    // semantically identical to pruning the full index first: a key the
    // batch never probes joins no candidate, and key-equality filtering
    // leaves every probed key's posting count unchanged, so exactly the
    // same keys exceed maxBucket. (Before this restriction, every
    // admission re-aggregated the FULL postings table — the
    // ∝-corpus-per-batch term the round-12 admission probe measured.)
    val probed = exPostings.select(col("_id"), col("_h"))
      .join(baInv.select(col("_h")).distinct(), Seq("_h"), "leftsemi")
    // hot-key prune applies to the CORPUS index (its posting lists are what
    // amplify the cross join); the batch index needs none — batch-internal
    // fan-out is bounded by the batch size
    val exInv = pruneHotKeys(probed, "_h", maxBucket)
    // existing↔batch candidates: batch index joins the corpus index by key
    val crossIds = baInv.as("b").join(exInv.as("e"), col("b._h") === col("e._h"))
      .select(col("e._id").as("id_a"), col("b._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // batch-internal candidates: the batch's own (small) self-join
    val selfIds = baInv.as("l").join(baInv.as("r"),
        col("l._h") === col("r._h") && col("l._id") < col("r._id"))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(crossIds.unionByName(selfIds).dropDuplicates("id_a", "id_b"),
      exShingles.unionByName(ba), minJaccard)
  }

  /** [[incrementalJaccardPairsIndexed]] against PERSISTED index tables,
    * with FILE-level pruning derived from the batch: the two reader
    * thunks receive the driver-collected probe sets (`None` = the set
    * exceeded the bounded-collect cap — serve the full table) and return
    * a SUPERSET of the rows those keys/ids can touch, typically a
    * [[graft.sources.ManifestStore]] `readAnyOf` whose partition/stat
    * evidence drops whole postings files. Semantics are byte-identical
    * to the DataFrame form: every downstream join keys on exactly the
    * probed column, so superset reads change I/O, never results.
    *
    *  - `postingsFor(batch's distinct shingle keys)`: the row-level
    *    broadcast leftsemi below still applies — pruning only shrinks
    *    the scan feeding it. This is the residual ∝-corpus SCAN term the
    *    round-12 admission probe measured after the semi-filter fix.
    *  - `shinglesFor(candidates' corpus ids)`: exact verification reads
    *    only the shingle sets of documents that actually appear in a
    *    candidate pair (∝ batch × occupancy) instead of the whole corpus
    *    — on an id-clustered table (append order) that is a handful of
    *    files regardless of corpus size.
    *
    * Driver-side state is bounded by `collectCap` per set (see
    * [[Par.collectLongsBounded]]); above the cap each reader degrades to
    * its full-scan plan — the pre-round-13 shape, correct at any size.
    */
  /** The shared candidate stage of the Stored forms: batch shingles
    * (checkpointed), existing↔batch ∪ batch-internal candidate id pairs,
    * and the candidates' collected corpus-id set (None above the cap).
    */
  private final case class StoredCandidates(ba: DataFrame, candIds: DataFrame,
                                            corpusIds: Option[Array[Long]])

  private def storedCandidates(postingsFor: Option[Array[Long]] => DataFrame,
                               batch: DataFrame, textCol: String,
                               idCol: String, n: Int, maxBucket: Int,
                               collectCap: Int): StoredCandidates = {
    val ba = shingleDocs(batch, textCol, idCol, n)
    val baInv = ba.select(col("_id"), explode(col("_sh")).as("_h"))
    val probeKeys = Par.collectLongsBounded(
      baInv.select(col("_h")).distinct(), collectCap)
    // the key set is already on the driver — the row-level restriction is
    // a scan-side set-membership filter (no distinct recompute, no
    // broadcast exchange); LongInSet rather than isInCollection because a
    // 20k-literal InSet re-sorts and stringifies every element on every
    // plan-string render (one per job event, one per AQE update — ~12% of
    // the q141 admission driver wall in thread-dump samples) and ships
    // boxed literals in every task binary. Only the cap-exceeded fallback
    // pays the semi join.
    val exPostings = postingsFor(probeKeys).select(col("_id"), col("_h"))
    val probed = probeKeys match {
      case Some(ks) => exPostings.filter(
        graft.plans.LongInSet.contains(col("_h"), ks))
      case None => exPostings
        .join(baInv.select(col("_h")).distinct(), Seq("_h"), "leftsemi")
    }
    val exInv = pruneHotKeys(probed, "_h", maxBucket)
    // materialized so the collected candidate-id set and the verify join
    // read the SAME computed candidates (and the probe join runs once)
    val crossIds = Par.materialize(
      baInv.as("b").join(exInv.as("e"), col("b._h") === col("e._h"))
        .select(col("e._id").as("id_a"), col("b._id").as("id_b"))
        .dropDuplicates("id_a", "id_b"))
    val corpusIds = Par.collectLongsBounded(
      crossIds.select(col("id_a")).distinct(), collectCap)
    val selfIds = baInv.as("l").join(baInv.as("r"),
        col("l._h") === col("r._h") && col("l._id") < col("r._id"))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    StoredCandidates(ba,
      crossIds.unionByName(selfIds).dropDuplicates("id_a", "id_b"), corpusIds)
  }

  def incrementalJaccardPairsStored(postingsFor: Option[Array[Long]] => DataFrame,
                                    shinglesFor: Option[Array[Long]] => DataFrame,
                                    batch: DataFrame, textCol: String,
                                    idCol: String, n: Int, minJaccard: Double,
                                    maxBucket: Int = 1000,
                                    collectCap: Int = 1 << 20): DataFrame = {
    val c = storedCandidates(postingsFor, batch, textCol, idCol, n,
      maxBucket, collectCap)
    verifyJaccard(c.candIds, shinglesFor(c.corpusIds).unionByName(c.ba),
      minJaccard)
  }

  /** [[admitBatchIndexed]] against PERSISTED index tables with file-level
    * pruning — see [[incrementalJaccardPairsStored]].
    *
    * The batch's distinct ids are collected from the already-checkpointed
    * batch shingles (never a second batch scan), and ONE pruned
    * `shinglesFor` read — candidates' corpus ids ∪ batch ids — serves
    * both exact verification and the defensive ids-disjoint check, so the
    * admission plans one shingles read per batch instead of two. The
    * defensive exclusion set is that read's ids RESTRICTED to the batch's
    * own ids (ids the batch does not carry can never anti-match), which
    * keeps the exclusion build ∝ batch at any corpus size and lets the
    * final anti-join broadcast. Above either collect cap the reads
    * degrade to their separate full-scan plans — the pre-round-14 shape,
    * correct at any size.
    */
  def admitBatchStored(postingsFor: Option[Array[Long]] => DataFrame,
                       shinglesFor: Option[Array[Long]] => DataFrame,
                       batch: DataFrame, textCol: String, idCol: String,
                       n: Int, minJaccard: Double,
                       maxBucket: Int = 1000,
                       collectCap: Int = 1 << 20): DataFrame = {
    val c = storedCandidates(postingsFor, batch, textCol, idCol, n,
      maxBucket, collectCap)
    val batchIds = Par.collectLongsBounded(
      c.ba.select(col("_id").cast("long")).distinct(), collectCap)
    // verify table and defensive-id source share one pruned read in the
    // common bounded case; either cap overflowing falls back to the two
    // independent reads (full-scan-degraded exactly as before)
    val (verSh, defIds) = (c.corpusIds, batchIds) match {
      case (Some(cs), Some(bs)) =>
        val one = shinglesFor(Some((cs ++ bs).distinct))
        (one, one.select(col("_id")).filter(
          graft.plans.LongInSet.contains(col("_id"), bs)))
      case _ =>
        (shinglesFor(c.corpusIds), shinglesFor(batchIds).select(col("_id")))
    }
    // no extra materialize here: the candidate set is already cached
    // inside the stored candidate plan (the one eager checkpoint this
    // path pays), and verify from it is consumed exactly once below
    val pairs = verifyJaccard(c.candIds, verSh.unionByName(c.ba), minJaccard)
    // ONE anti-join against the unioned exclusion set (pair losers ∪
    // defensive corpus∩batch ids): a row survives iff its id is in
    // neither set, which equals two sequential anti-joins — one join
    // instead of two (no distinct needed: the anti-join's hash build
    // dedups). With the bounded batch-id collect the build side is
    // provably ≤ 2 × |batch ids| longs, so the broadcast hint is safe at
    // any corpus size; the overflow path stays unhinted.
    val excluded = pairs.select(col("id_b").as(idCol))
      .unionByName(defIds.select(col("_id").as(idCol)))
    val build = if (batchIds.isDefined) broadcast(excluded) else excluded
    batch.join(build, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination pairs: every (eval doc, corpus doc) pair
    * whose n-gram Jaccard overlap reaches `minJaccard` — the check every
    * production training pipeline runs before shipping data, so a benchmark
    * answer leaking into the corpus is caught instead of trained on. The
    * asymmetric shape of [[incrementalJaccardPairs]] with the roles
    * reassigned: the (small) eval set's exploded fingerprints join the
    * corpus's inverted index by 8-byte key — eval×corpus only, NEVER a
    * corpus self-join, so a 100 TB corpus pays one index build and a join
    * bounded by |eval| × bucket occupancy. Hot-key pruning applies to the
    * corpus index (its posting lists are what amplify the join; the eval
    * side is small by definition).
    *
    * Returns (id_a = eval doc, id_b = corpus doc, jaccard), exact-verified
    * by the family's shared [[verifyJaccard]] expression.
    */
  def contaminationPairs(corpus: DataFrame, evalSet: DataFrame,
                         textCol: String, idCol: String, n: Int,
                         minJaccard: Double, maxBucket: Int = 1000): DataFrame = {
    def shingled(df: DataFrame): DataFrame = {
      val base = Par.spread(df.select(col(idCol).as("_id"), col(textCol).as("_text")))
      Par.materialize(base.select(col("_id"),
        graft.plans.GraftFunctions.wordShingleHashes(base, col("_text"), n).as("_sh")))
    }
    val co = shingled(corpus)
    val ev = shingled(evalSet)
    val coInv = pruneHotKeys(
      co.select(col("_id"), explode(col("_sh")).as("_h")), "_h", maxBucket)
    val evInv = ev.select(col("_id"), explode(col("_sh")).as("_h"))
    val candIds = evInv.as("e").join(coInv.as("c"), col("e._h") === col("c._h"))
      .select(col("e._id").as("id_a"), col("c._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // two-sided verify: id_a resolves against the EVAL shingle table and
    // id_b against the CORPUS one — the eval set is external, so its id
    // space may legitimately collide with the corpus's, and a unioned
    // lookup would fan out the join on any shared id
    verifyJaccardSides(candIds, ev, co, minJaccard)
  }

  /** The decontaminated corpus: every corpus document with no qualifying
    * n-gram overlap against the eval set — what actually ships to training.
    * One [[contaminationPairs]] pass + an anti-join on the (tiny) flagged
    * id set.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    textCol: String, idCol: String, n: Int,
                    minJaccard: Double, maxBucket: Int = 1000): DataFrame = {
    val flagged = contaminationPairs(corpus, evalSet, textCol, idCol, n,
        minJaccard, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Winnow-index candidate pairs: document pairs sharing at least
    * `minShared` winnowing fingerprints ([[TextAnalysis.winnowFingerprints]]
    * selection), with the shared count. The reason winnowing exists as a
    * dedup primitive: its inverted index carries only ~2/(w+1) of the
    * postings of the full shingle index (q22's shape) while guaranteeing
    * every copied span of ≥ w+n−1 words still collides — so the candidate
    * join moves ~60% less data for span-level copy detection, at the cost
    * of not observing sub-threshold overlaps.
    *
    * Same scale discipline as every index join here: explode to
    * (id, fingerprint), prune pathological posting lists ([[pruneHotKeys]],
    * logged), self-join on fingerprint equality with `id_a < id_b`, count
    * shared fingerprints per pair — never an all-pairs compare. Follow
    * with [[editDistanceVerify]] or [[TextAnalysis]] Jaccard scoring for
    * the precision pass.
    */
  def winnowCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, w: Int = 4, minShared: Long = 1L,
                           maxBucket: Int = 1000): DataFrame = {
    val base = Par.spread(df.select(col(idCol).as("_id"), col(textCol).as("_text")))
    // two-step on purpose: land the gram-hash array in a concrete column
    // first, so winnowMins' window lambda captures an attribute reference.
    // Inlined, the interpreted HOF re-evaluates the whole md5-array
    // construction per window index — O(grams²) per doc (measured 24 s vs
    // 1.3 s at sf0.1). Materialized once, served to prune + both join sides.
    val hs = base.select(col("_id"),
      TextAnalysis.winnowGramHashes(base, col("_text"), n).as("_hs"))
    val sel = Par.materialize(hs.select(col("_id"),
      array_distinct(TextAnalysis.winnowMins(col("_hs"), w)).as("_fps")))
    val fps = sel.select(col("_id"), explode(col("_fps")).as("_fp"))
    val inv = pruneHotKeys(fps, "_fp", maxBucket)
    inv.as("l").join(inv.as("r"),
        col("l._fp") === col("r._fp") && col("l._id") < col("r._id"))
      .groupBy(col("l._id").as("id_a"), col("r._id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact n-gram collision contamination report — the GPT-3/PaLM-style
    * decontamination rule: a corpus document is contaminated if it shares
    * ANY exact word n-gram with the eval set, regardless of what fraction
    * of the document that n-gram covers. The complement of
    * [[decontaminate]]'s Jaccard form: Jaccard catches documents that are
    * mostly eval material; exact collision catches a single memorized
    * benchmark sentence pasted into an otherwise-clean document, which a
    * document-level similarity threshold waves through. Production
    * pipelines run BOTH (collision with a long n, similarity with a lower
    * one).
    *
    * Returns (idCol, n_hits): each contaminated corpus document with the
    * number of DISTINCT eval n-grams it contains ([[WordShingleHashes]]
    * emits each document's distinct fingerprints, so the post-join count
    * is a distinct-gram count without a dedup pass). Clean documents are
    * absent — at a healthy contamination rate the report is tiny.
    *
    * Scale: both sides collapse to (id, 8-byte fingerprint) streams; the
    * collision is a fingerprint equi-join followed by a partial-agg count
    * — never a text comparison, never a cross or broadcast of either
    * corpus. A caller with a genuinely benchmark-sized eval set can mark
    * it `broadcast(...)` at the call site; the default stays a shuffle
    * join so an eval set proportional to the corpus (the q104 harness
    * shape) cannot become a driver-side bomb.
    */
  def exactContamination(corpus: DataFrame, evalSet: DataFrame,
                         textCol: String, idCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val base = df.select(col(idCol).as("_id"),
        coalesce(col(textCol), lit("")).as("_text"))
      base.select(col("_id"),
        explode(graft.plans.GraftFunctions.wordShingleHashes(base, col("_text"), n))
          .as("_g"))
    }
    grams(corpus)
      .join(grams(evalSet).select("_g").distinct(), Seq("_g"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Graded contamination score — per corpus document, the fraction of its
    * DISTINCT word n-grams that appear anywhere in the eval set. Sits
    * between [[exactContamination]]'s boolean any-collision rule (n_hits
    * > 0 ⇒ drop) and [[decontaminate]]'s document-level Jaccard: the
    * fraction is what a pipeline thresholds when a single shared n-gram is
    * too aggressive a drop rule (boilerplate phrases collide constantly at
    * small n) but pairwise similarity is the wrong unit (the eval set as a
    * WHOLE is what must not leak). Every corpus document with ≥1 n-gram is
    * reported — including clean ones (hit_frac = 0), so the output is the
    * audit table a threshold sweep reads, not just the kill list.
    *
    * Returns (idCol, n_grams, n_hits, hit_frac): distinct-gram count,
    * eval-colliding distinct-gram count, and their ratio rounded to 4.
    * Documents shorter than n tokens have no n-grams and are absent.
    *
    * Scale: identical join discipline to [[exactContamination]] — both
    * sides collapse to (id, 8-byte fingerprint); the eval side further
    * collapses to its distinct fingerprint set; one equi-join (left, to
    * keep clean documents) + one partial-agg count pair per document.
    * Never a text comparison, never a broadcast of either corpus by
    * default.
    */
  def contaminationFraction(corpus: DataFrame, evalSet: DataFrame,
                            textCol: String, idCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val base = df.select(col(idCol).as("_id"),
        coalesce(col(textCol), lit("")).as("_text"))
      base.select(col("_id"),
        explode(graft.plans.GraftFunctions.wordShingleHashes(base, col("_text"), n))
          .as("_g"))
    }
    val evGrams = grams(evalSet).select(col("_g")).distinct()
      .withColumn("_hit", lit(1))
    grams(corpus)
      .join(evGrams, Seq("_g"), "left")
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hits"))
      .withColumn("hit_frac",
        Portable.roundPortable(col("n_hits").cast("double") / col("n_grams").cast("double"), 4))
  }

  /** Exact shingle-set Jaccard verify of candidate id pairs: re-attach the
    * (materialized) shingle arrays per side, intersect, threshold. The ONE
    * verification expression every banding/bucketing candidate generator
    * shares — rounding or formula changes here propagate to all of them and
    * to their oracles together.
    */
  private def verifyJaccard(candIds: DataFrame, shingles: DataFrame,
                            minJaccard: Double): DataFrame =
    verifyJaccardSides(candIds, shingles, shingles, minJaccard)

  /** [[verifyJaccard]] with per-side shingle tables, for asymmetric
    * candidate generators whose two id columns come from different id
    * spaces (decontamination: id_a ∈ eval set, id_b ∈ corpus).
    */
  private def verifyJaccardSides(candIds: DataFrame, aShingles: DataFrame,
                                 bShingles: DataFrame, minJaccard: Double): DataFrame = {
    // Spread the id pairs before the array attach: AQE sizes the post-dedup
    // exchange by BYTES, and candidate pairs are 16 bytes/row — at the
    // admission shapes it coalesces the read to 1-2 partitions, and the
    // whole verify pipeline (shingle-array broadcast joins +
    // array_intersect + the downstream dropped-id aggregate) fuses into
    // that 1-2-task WholeStageCodegen span (measured: 2 tasks × ~3 s of
    // "time in aggregation build" at the q141 shape — the dominant
    // admission term). One round-robin exchange of the bare id pairs buys
    // full-width verification; the verify cost itself is ∝ pairs × |set|,
    // unchanged.
    val cand = Par.spread(candIds, force = true)
      .join(aShingles.withColumnsRenamed(Map("_id" -> "id_a", "_sh" -> "sh_a")), Seq("id_a"))
      .join(bShingles.withColumnsRenamed(Map("_id" -> "id_b", "_sh" -> "sh_b")), Seq("id_b"))
    cand.withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        Portable.roundPortable(col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Batch admission under incremental dedup: the batch documents that
    * survive against the existing corpus and their own batch. A batch doc
    * drops iff it pairs with ANY existing doc (the corpus member always
    * wins — its id is already canonical) or with a smaller-id batch doc —
    * the pair-local rule every incremental dedup pipeline applies (no
    * cluster closure needed: admission is per-document, and conservatively
    * dropping both members of a transitive chain is the safe direction for
    * training data).
    */
  def admitBatch(existing: DataFrame, batch: DataFrame, textCol: String,
                 idCol: String, n: Int, minJaccard: Double,
                 maxBucket: Int = 1000): DataFrame = {
    val ex = shingleDocs(existing, textCol, idCol, n)
    admitBatchIndexed(ex.select(col("_id"), explode(col("_sh")).as("_h")), ex,
      batch, textCol, idCol, n, minJaccard, maxBucket)
  }

  /** [[admitBatch]] against a prebuilt corpus index (see
    * [[incrementalJaccardPairsIndexed]] for the two index tables) — the
    * [[graft.pipeline.ShingleIndex]] admission path.
    */
  def admitBatchIndexed(exPostings: DataFrame, exShingles: DataFrame,
                        batch: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double,
                        maxBucket: Int = 1000): DataFrame = {
    val pairs = Par.materialize(incrementalJaccardPairsIndexed(
      exPostings, exShingles, batch, textCol, idCol, n, minJaccard, maxBucket))
    // a pair's batch-side loser: id_b for existing↔batch (id_b is the batch
    // doc) and for batch-internal (id_b is the larger id). One anti-join
    // against the unioned exclusion set (losers ∪ defensive corpus ids) —
    // equal to two sequential anti-joins, one join instead of two. The
    // defensive corpus ids are first SEMI-restricted to ids the batch
    // actually carries (an id absent from the batch can never anti-match),
    // so the exclusion build stays ∝ batch instead of ∝ corpus — without
    // it the union's corpus-sized id column forces a corpus-wide
    // sort-merge anti at any scale.
    val defIds = exShingles.select(col("_id").as(idCol))
      .join(batch.select(col(idCol)), Seq(idCol), "leftsemi")
    val excluded = pairs.select(col("id_b").as(idCol)).unionByName(defIds)
    batch.join(excluded, Seq(idCol), "left_anti")
  }

  /** Deterministic universal-hash family over xxhash64(shingle):
    * h_i(s) = (a_i·x + b_i) mod p, with fixed odd multipliers derived from
    * the seed — the standard MinHash construction.
    */
  // 2^31 - 1: keeps a·x + b < 2^62, so the universal hash never overflows a
  // long even under ANSI arithmetic.
  private val minhashPrime = 2147483647L

  private def hashParams(k: Int, seed: Long): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val r = new java.util.Random(seed + i)
      (math.abs(r.nextLong()) % (minhashPrime - 1) + 1, math.abs(r.nextLong()) % minhashPrime)
    }

  /** MinHash signature (array of k longs) of a shingle array column. */
  def minhashSignature(shingleCol: Column, k: Int = 32, seed: Long = 42L): Column = {
    val params = hashParams(k, seed)
    array(params.map { case (a, b) =>
      array_min(transform(shingleCol,
        s => pmod(lit(a) * pmod(xxhash64(s), lit(minhashPrime)) + lit(b), lit(minhashPrime))))
    }: _*)
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    *
    * k hashes split into `bands` bands of k/bands rows; docs colliding in any
    * band become candidates (prob ≈ 1-(1-j^r)^b); candidates then get exact
    * shingle-set Jaccard and are filtered by `minJaccard`. The only shuffles:
    * explode on band key + bounded self-join + the verify join.
    */
  def minhashNearDup(df: DataFrame, textCol: String, idCol: String, n: Int = 3,
                     k: Int = 32, bands: Int = 8, minJaccard: Double = 0.5,
                     seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rows = k / bands
    val base = Par.spread(df.select(col(idCol).as("_id"), col(textCol).as("_text")))
    val sh = base.select(col("_id"),
        graft.plans.GraftFunctions.wordShingles(base, col("_text"), n).as("_sh"))
      .filter(size(col("_sh")) > 0)
    // native single-pass expression; minhashSignature is the composable form
    val sig = Par.materialize(sh.withColumn("_sig",
      graft.plans.GraftFunctions.minhashSig(sh, col("_sh"), k, seed)))
    // band key = (band index, hash of the band's slice of the signature).
    // The banded/self-joined stream carries ONLY (id, band key) — never the
    // shingle array, which would amplify shuffle volume `bands`-fold and
    // again quadratically in the self-join. Shingles are re-attached from
    // the (materialized) signature table for just the surviving candidate
    // pairs — a tiny fraction of the corpus for non-degenerate data.
    val banded = sig.select(col("_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), xxhash64(concat_ws(",",
          slice(col("_sig"), b * rows + 1, rows))).as("bandhash"))
      }: _*)).as("_bk"))
      .select(col("_id"), col("_bk.band"), col("_bk.bandhash"))
    // materialized: the self-join references it twice, and recomputing it
    // means re-running the band explode AND the hot-key aggregation per side
    val pruned = Par.materialize(pruneHotKeys(banded, "bandhash", maxBucket))
    val candIds = pruned.as("l").join(pruned.as("r"),
        col("l.band") === col("r.band") && col("l.bandhash") === col("r.bandhash") &&
          col("l._id") < col("r._id"))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candIds, sig.select(col("_id"), col("_sh")), minJaccard)
  }

  /** 64-bit SimHash of the token stream: per bit position, sum +1/−1 weighted
    * votes of each token's xxhash64 bit, take the sign. Near-dups differ in
    * few bits (compare with [[hammingDistance]]).
    */
  def simhash(toks: Column): Column =
    (0 until 64).map { i =>
      val bitSum = aggregate(toks, lit(0L),
        (a, t) => a + when(shiftright(xxhash64(t), i).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L)))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact substring-level duplication stats — the window form of
    * exact-substring dedup (reference: dedup family; the Lee et al.
    * "Deduplicating Training Data" operator class): every length-`k` token
    * window of every document is fingerprinted, and a window is duplicated
    * iff its text occurs anywhere else in the corpus — another document OR
    * another position of the same document. One row per input document:
    * `n_windows` (0 for docs shorter than k tokens), `dup_windows`, and
    * `dup_frac` (NULL when there are no windows — under ANSI mode the
    * guard is load-bearing, an unguarded 0/0 double division throws).
    *
    * This catches what document-level near-dup (q22/q24/q50) cannot: long
    * boilerplate spans embedded in otherwise-distinct documents.
    *
    * Scale: the paper's suffix array is replaced by the shape that
    * distributes — windows explode map-side; the (doc, fingerprint) count
    * partially aggregates (the combiner collapses within-doc repeats before
    * the shuffle); fingerprint totals aggregate the already-collapsed
    * stream; one key-equality join carries counts back. Shuffle keys are
    * 8-byte xxhash64 fingerprints, never window text (q22's discipline —
    * a collision conflates two windows with probability ~n²/2⁶⁴,
    * indistinguishable from one spurious duplicate at corpus scale).
    */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 8): DataFrame = {
    require(k >= 1, "window length k must be >= 1")
    val toks = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    // shingles owns the windowing (including the short-doc descending-
    // sequence guard); this operator only fingerprints each window
    val grams = df.select(col(idCol).as("doc_id"), toks.as("_ts"))
      .select(col("doc_id"),
        explode(transform(TextAnalysis.shingles(col("_ts"), k),
          g => xxhash64(g))).as("_fp"))
    val perDoc = grams.groupBy(col("doc_id"), col("_fp"))
      .agg(count(lit(1)).as("_occ"))
    val totals = perDoc.groupBy(col("_fp")).agg(sum(col("_occ")).as("_tot"))
    val stats = perDoc.join(totals, "_fp")
      .groupBy(col("doc_id"))
      .agg(sum(col("_occ")).as("n_windows"),
        sum(when(col("_tot") > 1, col("_occ")).otherwise(lit(0L)))
          .as("dup_windows"))
    // left join restores short docs the explode dropped (n_windows = 0)
    df.select(col(idCol).as("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0,
          Portable.roundPortable(col("dup_windows").cast("double") / col("n_windows"), 6)))
  }
}
