package graft

import java.nio.file.Files

import graft.functions.NearDup
import graft.pipeline.ShingleIndex

/** The maintained Jaccard near-dup index must be a CACHE of work, never a
  * change of semantics: admission through the persisted postings/shingle
  * tables equals [[NearDup.admitBatch]] over the equivalent in-memory
  * corpus at every maintenance step.
  */
class ShingleIndexSpec extends SparkSpec {
  import spark.implicits._

  private val p = ShingleIndex.Params(n = 3, minJaccard = 0.5)

  test("persisted-index admission ≡ on-the-fly admission across maintenance steps") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-shindex").toString
    val batches = (0 until 3).map(i => docs.filter($"doc_id" % 3 === i))

    var corpus = docs.filter($"doc_id" < 0) // empty, right schema
    batches.zipWithIndex.foreach { case (batch, step) =>
      val viaIndex = ShingleIndex.admitAndAppend(spark, dir, batch, p)
        .select($"doc_id").as[Long].collect().toSet
      val direct = NearDup.admitBatch(corpus, batch, "text", "doc_id",
        p.n, p.minJaccard).select($"doc_id").as[Long].collect().toSet
      assert(viaIndex === direct, s"index diverged from direct admission at step $step")
      corpus = corpus.unionByName(batch.filter($"doc_id".isin(viaIndex.toSeq: _*)))
      // the index tables hold exactly the admitted corpus so far
      val held = ShingleIndex.shingles(spark, dir).select($"_id").as[Long].collect().toSet
      assert(held === corpus.select($"doc_id").as[Long].collect().toSet)
    }
    // postings stay consistent with the shingle sets: same ids, and each
    // doc's posting count equals its distinct-shingle count
    val postingCounts = ShingleIndex.postings(spark, dir)
      .groupBy($"_id").count().as[(Long, Long)].collect().toMap
    val shingleSizes = ShingleIndex.shingles(spark, dir)
      .select($"_id", org.apache.spark.sql.functions.size($"_sh").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(postingCounts === shingleSizes.filter(_._2 > 0L))
    // the dedup really dropped something and kept something
    val all = docs.select($"doc_id").as[Long].collect().toSet
    val held = shingleSizes.keySet
    assert(held.nonEmpty && held.size < all.size)
  }

  test("admission hot-key counting runs on the batch-restricted postings (plan shape)") {
    // the ∝-corpus-per-batch term the round-12 admission probe measured:
    // hot-key pruning must aggregate the postings AFTER the leftsemi
    // restriction to the batch's probe keys, never the full corpus index.
    // The hot set is checkpointed at construction, so the aggregate is
    // audited in the plans construction executed.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-shindex-plan").toString
    ShingleIndex.append(spark, dir, docs.filter($"doc_id" % 2 === 0), p)
    // inspect the pair-generation plans directly: admit() eagerly
    // materializes the pairs, which hides the candidate machinery
    // behind a checkpointed leaf in admit()'s own plan
    val (df, qes) = executions(NearDup.incrementalJaccardPairsIndexed(
      ShingleIndex.postings(spark, dir), ShingleIndex.shingles(spark, dir),
      docs.filter($"doc_id" % 2 === 1), "text", "doc_id", p.n, p.minJaccard,
      p.maxBucket))
    val plans = qes.map(_.optimizedPlan) :+ df.queryExecution.optimizedPlan
    // only aggregates that READ the corpus postings TABLE (a parquet
    // LogicalRelation leaf) — the batch-key distinct is also an Aggregate
    // on _h, but it reads the checkpointed batch (LogicalRDD), and it
    // legitimately has no semi
    val hotAggs = plans.flatMap(_.collect {
      case a: Aggregate if a.groupingExpressions.exists(
          _.references.exists(_.name == "_h")) &&
        a.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]) => a
    })
    assert(hotAggs.nonEmpty, "expected the hot-key aggregate in the executed plans")
    assert(hotAggs.forall(a =>
      a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
      "hot-key count must aggregate the semi-restricted postings, " +
        s"not the full corpus index\n${hotAggs.map(_.treeString).mkString("\n")}")
  }

  test("admit is a pure read: admitting twice without append gives the same answer") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-shindex-pure").toString
    ShingleIndex.append(spark, dir, docs.filter($"doc_id" % 2 === 0), p)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val a = ShingleIndex.admit(spark, dir, batch, p).select($"doc_id").as[Long].collect().toSet
    val b = ShingleIndex.admit(spark, dir, batch, p).select($"doc_id").as[Long].collect().toSet
    assert(a === b)
    assert(ShingleIndex.shingles(spark, dir).count() ===
      docs.filter($"doc_id" % 2 === 0).count(), "admit must not mutate the index")
  }

  test("bucket(N,_h) postings layout: identical admission, pruned postings files") {
    import org.apache.spark.sql.functions.{col, explode, lit}
    import graft.sources.ManifestStore
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val flat = Files.createTempDirectory("graft-shflat").toString
    val bk = Files.createTempDirectory("graft-shbk").toString
    val pb = p.copy(buckets = 64)
    // two appends per layout → several files per bucket generation
    Seq(0, 1).foreach { i =>
      val part = docs.filter($"doc_id" % 2 === i)
      ShingleIndex.append(spark, flat, part, p)
      ShingleIndex.append(spark, bk, part, pb)
    }
    // a realistic batch admits IDENTICALLY across layouts (the layout is
    // I/O, never semantics)
    val big = docs.filter($"doc_id" % 7 === 0)
      .withColumn("doc_id", $"doc_id" + lit(900000100L))
    val aBig = ShingleIndex.admit(spark, flat, big, p)
      .select($"doc_id").as[Long].collect().toSet
    val bBig = ShingleIndex.admit(spark, bk, big, pb)
      .select($"doc_id").as[Long].collect().toSet
    assert(aBig === bBig)
    // a TINY batch (3 shingles) must prune the bucketed table to ≤ 3
    // bucket groups of files — the files-read ∝ batch-keys pin
    val tiny = Seq((900000001L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val aT = ShingleIndex.admit(spark, flat, tiny, p)
      .select($"doc_id").as[Long].collect().toSet
    val bT = ShingleIndex.admit(spark, bk, tiny, pb)
      .select($"doc_id").as[Long].collect().toSet
    assert(aT === bT)
    val keys = tiny.select(explode(graft.plans.GraftFunctions
        .wordShingleHashes(tiny, col("text"), p.n)).as("_h"))
      .distinct().as[Long].collect()
    assert(keys.length === 3)
    val snap = ManifestStore.currentSnapshot(spark, s"$bk/postings").get
    val kept = ManifestStore.pruneFilesAnyOf(snap, "_h", keys)
    // ≤ one file per probed bucket per append (2 appends × ≤3 buckets)
    assert(kept.size <= 6 && kept.size < snap.files.size,
      s"kept ${kept.size} of ${snap.files.size}")
    // the pruned read executes exactly the kept files, and is row-complete
    // for the probed keys (superset semantics: pruned ∩ keys = full ∩ keys)
    val pruned = ManifestStore.readAnyOf(spark, s"$bk/postings",
      ShingleIndex.postingsSchema, "_h", keys)
    assert(pruned.inputFiles.length === kept.size)
    val keySeq = keys.toSeq
    val viaPruned = pruned.filter($"_h".isin(keySeq: _*))
      .as[(Long, Long)].collect().toSet
    val viaFull = ShingleIndex.postings(spark, bk)
      .filter($"_h".isin(keySeq: _*)).as[(Long, Long)].collect().toSet
    assert(viaPruned === viaFull)
  }

  test("bounded-collect overflow degrades to the full-scan readers (None)") {
    import org.apache.spark.sql.DataFrame
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val ex = NearDup.admitBatch(corpus, batch, "text", "doc_id", p.n, p.minJaccard)
      .select($"doc_id").as[Long].collect().toSet
    // collectCap = 0 forces every probe set over the cap: the readers must
    // be handed None and the full-scan plan must produce identical pairs
    val exSh = NearDup.shingleDocs(corpus, "text", "doc_id", p.n)
    val full: Option[Array[Long]] => DataFrame = {
      case Some(_) => fail("cap-exceeded path must pass None to its readers")
      case None => exSh.select($"_id",
        org.apache.spark.sql.functions.explode($"_sh").as("_h"))
    }
    val fullSh: Option[Array[Long]] => DataFrame = {
      case Some(_) => fail("cap-exceeded path must pass None to its readers")
      case None => exSh
    }
    val pairs = NearDup.incrementalJaccardPairsStored(full, fullSh, batch,
      "text", "doc_id", p.n, p.minJaccard, p.maxBucket, collectCap = 0)
    val dropped = pairs.select($"id_b").as[Long].collect().toSet
    val admitted = batch.select($"doc_id").as[Long].collect().toSet -- dropped
    assert(admitted === ex)
  }

  test("bucket(N,_id) shingles layout: identical admission, pruned verify files") {
    import org.apache.spark.sql.functions.lit
    import graft.sources.ManifestStore
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val flat = Files.createTempDirectory("graft-shidflat").toString
    val idb = Files.createTempDirectory("graft-shidbk").toString
    val pi = p.copy(buckets = 64, idBuckets = 32)
    Seq(0, 1).foreach { i =>
      val part = docs.filter($"doc_id" % 2 === i)
      ShingleIndex.append(spark, flat, part, p)
      ShingleIndex.append(spark, idb, part, pi)
    }
    // admission is layout-blind: flat vs fully bucketed (postings AND
    // shingles) must admit the same batch rows
    val batch = docs.filter($"doc_id" % 7 === 0)
      .withColumn("doc_id", $"doc_id" + lit(900000100L))
    val a = ShingleIndex.admit(spark, flat, batch, p)
      .select($"doc_id").as[Long].collect().toSet
    val b = ShingleIndex.admit(spark, idb, batch, pi)
      .select($"doc_id").as[Long].collect().toSet
    assert(a === b)
    // a small candidate-id set prunes the shingles table to ≤ one file per
    // id bucket per append — the verification-reads ∝ candidates pin
    val ids = docs.filter($"doc_id" % 97 === 0)
      .select($"doc_id").as[Long].collect()
    assert(ids.nonEmpty && ids.length <= 8)
    val snap = ManifestStore.currentSnapshot(spark, s"$idb/shingles").get
    val kept = ManifestStore.pruneFilesAnyOf(snap, "_id", ids)
    assert(kept.size <= ids.length * 2 && kept.size < snap.files.size,
      s"kept ${kept.size} of ${snap.files.size}")
    // superset semantics: pruned ∩ ids = full ∩ ids, shingle sets intact
    val idSeq = ids.toSeq
    val viaPruned = ManifestStore.readAnyOf(spark, s"$idb/shingles",
        ShingleIndex.shinglesSchema, "_id", ids)
      .filter($"_id".isin(idSeq: _*)).as[(Long, Seq[Long])].collect()
      .map { case (i, sh) => (i, sh.sorted) }.toSet
    val viaFull = ShingleIndex.shingles(spark, idb)
      .filter($"_id".isin(idSeq: _*)).as[(Long, Seq[Long])].collect()
      .map { case (i, sh) => (i, sh.sorted) }.toSet
    assert(viaPruned === viaFull)
  }
}
