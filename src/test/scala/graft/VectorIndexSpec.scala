package graft

import java.nio.file.Files

import graft.functions.Similarity
import graft.pipeline.VectorIndex

/** The maintained semantic-dedup index must be a CACHE of work, never a
  * change of semantics: admission through the persisted postings/vectors
  * tables equals [[Similarity.admitVectorBatch]] over the equivalent
  * in-memory corpus at every maintenance step.
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private val p = VectorIndex.Params(dim = 64)
  private val tau = 0.4

  test("persisted-index admission ≡ on-the-fly admission across maintenance steps") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-vecindex").toString
    // three daily batches carve up the corpus deterministically
    val batches = (0 until 3).map(i => emb.filter($"vec_id" % 3 === i))

    var corpus = emb.filter($"vec_id" < 0) // empty, right schema
    batches.zipWithIndex.foreach { case (batch, step) =>
      val viaIndex = VectorIndex.admitAndAppend(spark, dir, batch, tau, p)
        .select($"vec_id").as[Long].collect().toSet
      val direct = Similarity.admitVectorBatch(corpus, batch, tau, dim = 64)
        .select($"vec_id").as[Long].collect().toSet
      assert(viaIndex === direct, s"index diverged from direct admission at step $step")
      // the in-memory corpus mirror grows by exactly the admitted rows
      corpus = corpus.unionByName(batch.filter($"vec_id".isin(viaIndex.toSeq: _*)))
      // and the index tables hold exactly the admitted corpus so far
      val held = VectorIndex.vectors(spark, dir).select($"_id").as[Long].collect().toSet
      assert(held === corpus.select($"vec_id").as[Long].collect().toSet)
    }
    // postings stay consistent with vectors: same ids, `tables` rows each
    val postingCounts = VectorIndex.postings(spark, dir)
      .groupBy($"_id").count().as[(Long, Long)].collect().toMap
    val heldIds = VectorIndex.vectors(spark, dir).select($"_id").as[Long].collect().toSet
    assert(postingCounts.keySet === heldIds)
    assert(postingCounts.values.forall(_ === p.tables.toLong))
    // step-2 admission really exercised the cross path (non-trivial corpus)
    assert(heldIds.nonEmpty && heldIds.size < emb.count())
  }

  test("admission hot-bucket counting runs on the batch-restricted postings (plan shape)") {
    // mirror of ShingleIndexSpec's plan pin: occupancy counting must
    // aggregate the corpus bucket postings AFTER the leftsemi restriction
    // to the batch's probed buckets (a pass-through at small `bits`, but
    // the shape is what keeps per-batch shuffle ∝ batch × occupancy)
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-vecindex-plan").toString
    VectorIndex.append(spark, dir, emb.filter($"vec_id" % 2 === 0), p)
    // inspect the pair-generation plans directly: admit() eagerly
    // materializes the pairs, which hides the candidate machinery
    // behind a checkpointed leaf in admit()'s own plan
    val (df, qes) = executions(Similarity.incrementalCosinePairsIndexed(
      VectorIndex.postings(spark, dir), VectorIndex.vectors(spark, dir),
      emb.filter($"vec_id" % 2 === 1), tau, dim = 64,
      tables = p.tables, bits = p.bits, seed = p.seed))
    val plans = qes.map(_.optimizedPlan) :+ df.queryExecution.optimizedPlan
    // only aggregates that READ the corpus postings TABLE (a parquet
    // LogicalRelation leaf) — the batch-bucket distinct is also an
    // Aggregate on _tb with the same column names, but its leaf is the
    // checkpointed batch (LogicalRDD), and it legitimately has no semi
    val hotAggs = plans.flatMap(_.collect {
      case a: Aggregate if a.groupingExpressions.exists(
          _.references.exists(_.name == "_tb")) &&
        a.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]) => a
    })
    assert(hotAggs.nonEmpty, "expected the hot-bucket aggregate in the executed plans")
    assert(hotAggs.forall(a =>
      a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
      "hot-bucket count must aggregate the semi-restricted postings, " +
        s"not the full corpus index\n${hotAggs.map(_.treeString).mkString("\n")}")
  }

  test("admit is a pure read: admitting twice without append gives the same answer") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-vecindex-pure").toString
    VectorIndex.append(spark, dir, emb.filter($"vec_id" % 2 === 0), p)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val a = VectorIndex.admit(spark, dir, batch, tau, p).select($"vec_id").as[Long].collect().toSet
    val b = VectorIndex.admit(spark, dir, batch, tau, p).select($"vec_id").as[Long].collect().toSet
    assert(a === b)
    val held = VectorIndex.vectors(spark, dir).count()
    assert(held === emb.filter($"vec_id" % 2 === 0).count(), "admit must not mutate the index")
  }

  test("bucket(N,_tb) postings layout: identical admission, pruned postings files") {
    import org.apache.spark.sql.functions.col
    import graft.sources.ManifestStore
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flat = Files.createTempDirectory("graft-vecflat").toString
    val bk = Files.createTempDirectory("graft-vecbk").toString
    val pb = p.copy(buckets = 256)
    Seq(0, 1).foreach { i =>
      val part = emb.filter($"vec_id" % 2 === i)
      VectorIndex.append(spark, flat, part, p)
      VectorIndex.append(spark, bk, part, pb)
    }
    // a multi-vector batch admits IDENTICALLY across layouts
    val big = emb.filter($"vec_id" % 7 === 0)
      .withColumn("vec_id", $"vec_id" + org.apache.spark.sql.functions.lit(900000100L))
    val aBig = VectorIndex.admit(spark, flat, big, tau, p)
      .select($"vec_id").as[Long].collect().toSet
    val bBig = VectorIndex.admit(spark, bk, big, tau, pb)
      .select($"vec_id").as[Long].collect().toSet
    assert(aBig === bBig)
    // ONE probe vector touches ≤ `tables` buckets: with 256 declared
    // buckets the prune must keep at most tables × appends file groups
    val minId = emb.agg(org.apache.spark.sql.functions.min($"vec_id"))
      .as[Long].head()
    val one = emb.filter($"vec_id" === minId)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(900000001L))
    val aOne = VectorIndex.admit(spark, flat, one, tau, p)
      .select($"vec_id").as[Long].collect().toSet
    val bOne = VectorIndex.admit(spark, bk, one, tau, pb)
      .select($"vec_id").as[Long].collect().toSet
    assert(aOne === bOne)
    val keys = Similarity.bucketPostings(
        Similarity.prepVectors(one, "vec_id", "embedding"),
        pb.dim, pb.tables, pb.bits, pb.seed)
      .select(col("_tb")).distinct().as[Long].collect()
    assert(keys.length <= pb.tables)
    val snap = ManifestStore.currentSnapshot(spark, s"$bk/postings").get
    val kept = ManifestStore.pruneFilesAnyOf(snap, "_tb", keys)
    assert(kept.size < snap.files.size, s"kept ${kept.size} of ${snap.files.size}")
    val pruned = ManifestStore.readAnyOf(spark, s"$bk/postings",
      VectorIndex.postingsSchema, "_tb", keys)
    assert(pruned.inputFiles.length === kept.size)
    val keySeq = keys.toSeq
    val viaPruned = pruned.filter($"_tb".isin(keySeq: _*))
      .as[(Long, Long)].collect().toSet
    val viaFull = VectorIndex.postings(spark, bk)
      .filter($"_tb".isin(keySeq: _*)).as[(Long, Long)].collect().toSet
    assert(viaPruned === viaFull)
  }

  test("bucket(N,_id) vectors layout: identical admission, pruned verify files") {
    import org.apache.spark.sql.functions.lit
    import graft.sources.ManifestStore
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flat = Files.createTempDirectory("graft-vecidflat").toString
    val idb = Files.createTempDirectory("graft-vecidbk").toString
    val pi = p.copy(buckets = 256, idBuckets = 32)
    Seq(0, 1).foreach { i =>
      val part = emb.filter($"vec_id" % 2 === i)
      VectorIndex.append(spark, flat, part, p)
      VectorIndex.append(spark, idb, part, pi)
    }
    // admission is layout-blind: flat vs fully bucketed (postings AND
    // vectors) must admit the same batch rows
    val batch = emb.filter($"vec_id" % 7 === 0)
      .withColumn("vec_id", $"vec_id" + lit(900000100L))
    val a = VectorIndex.admit(spark, flat, batch, tau, p)
      .select($"vec_id").as[Long].collect().toSet
    val b = VectorIndex.admit(spark, idb, batch, tau, pi)
      .select($"vec_id").as[Long].collect().toSet
    assert(a === b)
    // a small candidate-id set prunes the vectors table to ≤ one file per
    // id bucket per append — the verification-reads ∝ candidates pin
    val ids = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id").as[Long].collect()
    assert(ids.nonEmpty && ids.length <= 8)
    val snap = ManifestStore.currentSnapshot(spark, s"$idb/vectors").get
    val kept = ManifestStore.pruneFilesAnyOf(snap, "_id", ids)
    assert(kept.size <= ids.length * 2 && kept.size < snap.files.size,
      s"kept ${kept.size} of ${snap.files.size}")
    // superset semantics: pruned ∩ ids = full ∩ ids, vectors intact
    val idSeq = ids.toSeq
    val viaPruned = ManifestStore.readAnyOf(spark, s"$idb/vectors",
        VectorIndex.vectorsSchema, "_id", ids)
      .filter($"_id".isin(idSeq: _*)).as[(Long, Seq[Double])].collect().toSet
    val viaFull = VectorIndex.vectors(spark, idb)
      .filter($"_id".isin(idSeq: _*)).as[(Long, Seq[Double])].collect().toSet
    assert(viaPruned === viaFull)
  }
}
