package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence for the maintained-index deployment claim — the one
  * 100 TB argument the sf1 suite could not separate: q141/q142/q55/q120
  * time INDEX BUILD + admission together (build is ∝ corpus by design),
  * while the deployment claim is "the maintained table pays the build
  * once; per-batch ADMISSION is ∝ batch, plus an index-scan term the
  * probe makes visible". This main splits the two:
  *
  * {{{
  * // args: mode dataDir idxRoot [reps bits tables lexBuckets vecBuckets
  * //        lexIdBuckets vecIdBuckets lex|vec|both batchMod]
  * runMain graft.AdmissionProbe build /root/testdata/sf0.1 /tmp/i 3 16 48 64 24 1 1
  * runMain graft.AdmissionProbe probe /root/testdata/sf0.01 /tmp/i 5 16 48
  * }}}
  *
  * `build` bootstraps the persisted [[graft.pipeline.ShingleIndex]] /
  * [[graft.pipeline.VectorIndex]] tables from a corpus (untimed work the
  * deployment pays once, then amortizes via incremental appends),
  * optionally under the key-pruned layouts: `lexBuckets`/`vecBuckets`
  * declare `bucket(N, _h|_tb)` on the postings, `lexIdBuckets`/
  * `vecIdBuckets` declare `bucket(N, _id)` on the verify-side tables, and
  * the family filter rebuilds one side only (a bits re-pick needs no new
  * lexical build). `probe` then times ADMISSION-ONLY of a FIXED batch
  * (the sf0.01 `% batchMod == 0` slice, default 7 — the q141/q142 batch
  * shape, byte-identical whichever index it probes, ids shifted above
  * every scaled corpus id so admission never keys on a collision)
  * against whatever index sits at the root: timed reps in one JVM,
  * per-rep seconds + median + the kept/total postings-file counts the
  * batch's keys plan, printed as one JSON line. The two measurement
  * axes (BASELINE.md §Round 12–13): decades of `build` corpora at a
  * fixed batch expose any ∝-corpus admission term (kept files must
  * SATURATE at the batch's key count); growing `batchMod` slices at a
  * fixed index show cost ∝ batch.
  *
  * Same parameters as the oracle queries (lexical n=3 j≥0.2; semantic
  * hyperplane LSH, seed 42, cos≥0.4), so the timed plan is the one the
  * correctness gate proves right.
  */
object AdmissionProbe {

  private val lexP = pipeline.ShingleIndex.Params(n = 3, minJaccard = 0.2)
  private val minCosine = 0.4
  // far above every scaled corpus id: GenScale doc/vec copy shifts are
  // K×1e6, so K=1000 (the sf100-scale third decade) reaches ~1e9 — the
  // old 9e8 shift would have COLLIDED with copies ≥ 900 and keyed
  // admission on phantom id equality (the q145/q147 probe-literal
  // envelope bug class, round 12). 2e9 clears K ≤ 1999.
  private val idShift = 2000000000L

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private def timed(reps: Int)(work: () => Long): (Seq[Double], Long) = {
    var rows = 0L
    val ss = (1 to reps).map { _ =>
      graft.functions.Par.unpersistAll(SparkSession.active, blocking = true)
      System.gc()
      val t0 = System.nanoTime()
      rows = work()
      (System.nanoTime() - t0) / 1e9
    }
    (ss, rows)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("probe")
    val dataDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val root = args.lift(2).getOrElse("/tmp/graft_admission_idx")
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    // optional LSH re-pick (build and probe must agree): `bits` is the
    // BUILD parameter that holds bucket occupancy flat as the corpus
    // grows; `tables` is its recall partner (more bits per bucket key →
    // more tables for the same true-pair recall)
    val bits = args.lift(4).map(_.toInt).getOrElse(4)
    val tables = args.lift(5).map(_.toInt).getOrElse(48)
    // bucket-layout build parameters (round 13): N > 0 declares a
    // bucket(N, key) hidden-partition layout on the postings tables so
    // admission prunes postings FILES from the batch's probe keys.
    // Sizing rule: N ≈ corpusPostings / rowsPerBucket (the probe runner
    // scales N with the corpus decade, holding per-bucket bytes fixed —
    // the deployment shape where per-batch I/O saturates at
    // |batch keys| × bucketBytes regardless of corpus size).
    val lexBuckets = args.lift(6).map(_.toInt).getOrElse(0)
    val vecBuckets = args.lift(7).map(_.toInt).getOrElse(0)
    // id-bucket layout for the exact-verify tables (shingles/vectors):
    // sizing rule is rows/idBucket fixed, so candidate-id pruning reads
    // ≈ |candidate ids| files at any corpus size
    val lexIdBuckets = args.lift(8).map(_.toInt).getOrElse(0)
    val vecIdBuckets = args.lift(9).map(_.toInt).getOrElse(0)
    // family filter ("lex" | "vec" | "both"): a bits re-pick rebuilds only
    // the vector index — the lexical build at the big decades is the
    // expensive half and is parameter-independent
    val family = args.lift(10).getOrElse("both")
    require(Set("lex", "vec", "both")(family),
      s"family arg must be lex|vec|both, got '$family'")
    val doLex = family == "both" || family == "lex"
    val doVec = family == "both" || family == "vec"
    // batch-size axis: probe the `% batchMod == 0` slice (default 7 — the
    // q141/q142 batch). Varying batchMod at a FIXED index measures the
    // other half of the deployment claim: admission ∝ batch keys at any
    // corpus size (the corpus axis is the decade table).
    val batchMod = args.lift(11).map(_.toInt).getOrElse(7)
    val vecP = pipeline.VectorIndex.Params(dim = 64, tables = tables,
      bits = bits, buckets = vecBuckets, idBuckets = vecIdBuckets)
    val spark = GraftSession.local()

    mode match {
      case "build" =>
        val t0 = System.nanoTime()
        if (doLex) pipeline.ShingleIndex.append(spark, s"$root/shingle",
          spark.read.parquet(s"$dataDir/documents.parquet"),
          lexP.copy(buckets = lexBuckets, idBuckets = lexIdBuckets))
        val tLex = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        if (doVec) pipeline.VectorIndex.append(spark, s"$root/vector",
          spark.read.parquet(s"$dataDir/embeddings.parquet"), vecP)
        val tVec = (System.nanoTime() - t1) / 1e9
        val nLex = if (doLex)
          pipeline.ShingleIndex.postings(spark, s"$root/shingle").count() else 0L
        val nVec = if (doVec)
          pipeline.VectorIndex.postings(spark, s"$root/vector").count() else 0L
        val fLex = graft.sources.ManifestStore
          .currentSnapshot(spark, s"$root/shingle/postings").map(_.files.size).getOrElse(0)
        val fVec = graft.sources.ManifestStore
          .currentSnapshot(spark, s"$root/vector/postings").map(_.files.size).getOrElse(0)
        val fLexSh = graft.sources.ManifestStore
          .currentSnapshot(spark, s"$root/shingle/shingles").map(_.files.size).getOrElse(0)
        val fVecV = graft.sources.ManifestStore
          .currentSnapshot(spark, s"$root/vector/vectors").map(_.files.size).getOrElse(0)
        println(s"""{"mode":"build","corpus":"$dataDir","index":"$root",""" +
          s""""bits":$bits,"tables":$tables,""" +
          s""""lex_buckets":$lexBuckets,"vec_buckets":$vecBuckets,""" +
          s""""lex_id_buckets":$lexIdBuckets,"vec_id_buckets":$vecIdBuckets,""" +
          s""""lex_files":$fLex,"vec_files":$fVec,""" +
          s""""lex_shingle_files":$fLexSh,"vec_vector_files":$fVecV,""" +
          // a skipped family emits null, never a fabricated zero — a
          // downstream table aggregator must not ingest placeholders
          s""""lex_build_sec":${if (doLex) fmt(tLex) else "null"},""" +
          s""""vec_build_sec":${if (doVec) fmt(tVec) else "null"},""" +
          s""""lex_postings":${if (doLex) nLex.toString else "null"},""" +
          s""""vec_postings":${if (doVec) nVec.toString else "null"}}""")

      case "probe" =>
        def batchDocs: DataFrame = spark.read
          .parquet(s"$dataDir/documents.parquet")
          .filter(col("doc_id") % batchMod === 0)
          .withColumn("doc_id", col("doc_id") + lit(idShift))
        def batchVecs: DataFrame = spark.read
          .parquet(s"$dataDir/embeddings.parquet")
          .filter(col("vec_id") % batchMod === 0)
          .withColumn("vec_id", col("vec_id") + lit(idShift))
        val (lexS, lexN) = if (doLex) timed(reps)(() =>
          pipeline.ShingleIndex.admit(spark, s"$root/shingle", batchDocs, lexP)
            .count()) else (Seq(0.0), 0L)
        val (vecS, vecN) = if (doVec) timed(reps)(() =>
          pipeline.VectorIndex.admit(spark, s"$root/vector", batchVecs,
            minCosine, vecP).count()) else (Seq(0.0), 0L)
        // file-prune evidence: the exact kept/total postings-file counts
        // the admission reads plan from the batch's probe keys — the
        // "files read ∝ batch keys, not corpus" pin per decade
        import graft.sources.ManifestStore
        def keptOf(dirp: String, column: String, keys: DataFrame): String = {
          val ks = graft.functions.Par.collectLongsBounded(keys.distinct())
          ManifestStore.currentSnapshot(spark, dirp) match {
            case Some(s) =>
              val kept = ks.map(ManifestStore.pruneFilesAnyOf(s, column, _)
                .size).getOrElse(s.files.size)
              s"""{"keys":${ks.map(_.length).getOrElse(-1)},"kept":$kept,"total":${s.files.size}}"""
            case None => """{"keys":0,"kept":0,"total":0}"""
          }
        }
        val lexKeys = graft.plans.GraftFunctions.wordShingleHashes(
          batchDocs, col("text"), lexP.n)
        // a skipped family emits nulls, never fabricated zero-measurements
        val lexPrune = if (doLex) keptOf(s"$root/shingle/postings", "_h",
          batchDocs.select(explode(lexKeys).as("_h"))) else "null"
        val vecPrune = if (doVec) keptOf(s"$root/vector/postings", "_tb",
          graft.functions.Similarity.bucketPostings(
            graft.functions.Similarity.prepVectors(batchVecs, "vec_id", "embedding"),
            vecP.dim, vecP.tables, vecP.bits, vecP.seed).select(col("_tb")))
          else "null"
        def med(ss: Seq[Double]) = ss.sorted.apply(ss.size / 2)
        def secsOf(on: Boolean, ss: Seq[Double], n: Long, tag: String): String =
          if (on) s""""${tag}_admit_sec":[${ss.map(fmt).mkString(",")}],""" +
            s""""${tag}_admit_med":${fmt(med(ss))},"${tag}_admitted":$n,"""
          else s""""${tag}_admit_sec":null,"${tag}_admit_med":null,""" +
            s""""${tag}_admitted":null,"""
        println(s"""{"mode":"probe","batch":"$dataDir","index":"$root",""" +
          s""""bits":$bits,"tables":$tables,"batch_mod":$batchMod,""" +
          secsOf(doLex, lexS, lexN, "lex") +
          secsOf(doVec, vecS, vecN, "vec") +
          s""""lex_prune":$lexPrune,"vec_prune":$vecPrune}""")

      case other => sys.error(s"unknown mode '$other' (build|probe)")
    }
    spark.stop()
  }
}
