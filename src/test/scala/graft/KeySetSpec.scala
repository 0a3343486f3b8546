package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}

import graft.functions.{NearDup, Similarity}
import graft.pipeline.{ShingleIndex, VectorIndex}
import graft.plans.{LongInSet, LongKeySet}

/** The round-14 admission internals: the [[LongInSet]] key-set filter that
  * replaced `isInCollection` at the probe/defensive seams, and the fused
  * pruned read + batch-bounded defensive exclusion in the Stored admission
  * paths — including the two corners the equivalence-pinned maintenance
  * suites do not reach: batch ids OVERLAPPING corpus ids (the defensive
  * ids-disjoint check must still drop them), and collect-cap overflow (the
  * degraded separate full-scan reads must admit identically).
  */
class KeySetSpec extends SparkSpec {
  import spark.implicits._

  test("LongInSet equals isInCollection under a filter (nulls dropped, empty set empty)") {
    val df = Seq[java.lang.Long](1L, 2L, 5L, null, 42L, -7L).toDF("v")
    val keys = Array(5L, -7L, 99L)
    val viaSet = df.filter(LongInSet.contains(col("v"), keys))
      .as[Long].collect().sorted
    val viaIn = df.filter(col("v").isInCollection(keys.toSeq))
      .as[Long].collect().sorted
    assert(viaSet.toSeq === Seq(-7L, 5L))
    assert(viaSet.toSeq === viaIn.toSeq)
    // empty key set: nothing passes (and nothing throws)
    assert(df.filter(LongInSet.contains(col("v"), Array.empty[Long])).count() === 0L)
    // O(1) rendering is the point of the expression: the plan string must
    // carry the count, never the elements (the EXECUTED plan over a local
    // relation constant-folds the filter away entirely — also fine — so
    // the rendering pin reads the analyzed plan). Expression ids are
    // stripped first: an id such as `v#79976L` contains "99" too.
    val s = df.filter(LongInSet.contains(col("v"), keys))
      .queryExecution.analyzed.toString.replaceAll("#\\d+", "#")
    assert(s.contains("LongKeySet(n=3)") && !s.contains("99"), s)
  }

  test("LongKeySet equality is content-based (canonicalization soundness)") {
    val a = new LongKeySet(Array(3L, 1L, 2L))
    val b = new LongKeySet(Array(2L, 3L, 1L)) // same content, different order
    val c = new LongKeySet(Array(1L, 2L))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a != c)
    assert(a.toString == "LongKeySet(n=3)")
  }

  test("stored lexical admission drops batch ids the corpus already holds (overlap)") {
    val dir = Files.createTempDirectory("graft-ks-lex").toString
    val p = ShingleIndex.Params(n = 3, minJaccard = 0.5)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven")).toDF("doc_id", "text")
    ShingleIndex.append(spark, dir, corpus, p)
    // batch row 10 re-uses a corpus id with COMPLETELY different text (no
    // shingle overlap — it must be dropped by the defensive check alone);
    // 12 is a fresh near-dup of corpus 11 (dropped by a pair); 13 is clean
    val batch = Seq(
      (10L, "unrelated words that share no shingles at all"),
      (12L, "one two three four five six eight"),
      (13L, "totally novel content nothing else matches")).toDF("doc_id", "text")
    val admitted = ShingleIndex.admit(spark, dir, batch, p)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted === Set(13L), s"got $admitted")
    // the in-memory form agrees on the same corpus
    val direct = NearDup.admitBatch(corpus, batch, "text", "doc_id",
      p.n, p.minJaccard).select($"doc_id").as[Long].collect().toSet
    assert(direct === admitted)
  }

  test("stored semantic admission drops overlapping ids; cap overflow admits identically") {
    val dir = Files.createTempDirectory("graft-ks-vec").toString
    val p = VectorIndex.Params(dim = 4)
    def vecs(rows: (Long, Seq[Double])*) =
      rows.toSeq.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = vecs(20L -> Seq(1.0, 0.0, 0.0, 0.0), 21L -> Seq(0.0, 1.0, 0.0, 0.0))
    VectorIndex.append(spark, dir, corpus, p)
    // 20 re-uses a corpus id but is ORTHOGONAL to everything (defensive
    // drop only); 22 near-dups corpus 21; 23 is orthogonal and fresh
    val batch = vecs(20L -> Seq(0.0, 0.0, 1.0, 0.0),
      22L -> Seq(0.0, 0.999, 0.01, 0.0), 23L -> Seq(0.0, 0.0, 0.0, 1.0))
    val admitted = VectorIndex.admit(spark, dir, batch, minCosine = 0.8, p)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted === Set(23L), s"got $admitted")
    // cap overflow: collectCap = 0 forces every bounded collect over the
    // cap, so the fused read degrades to the separate full-scan plans —
    // admitted rows must be identical
    val postingsFor: Option[Array[Long]] => org.apache.spark.sql.DataFrame = {
      case Some(_) => fail("cap-exceeded path must pass None to its readers")
      case None => VectorIndex.postings(spark, dir)
    }
    val vectorsFor: Option[Array[Long]] => org.apache.spark.sql.DataFrame = {
      case Some(_) => fail("cap-exceeded path must pass None to its readers")
      case None => VectorIndex.vectors(spark, dir)
    }
    val degraded = Similarity.admitVectorBatchStored(postingsFor, vectorsFor,
        batch, minCosine = 0.8, dim = p.dim, tables = p.tables, bits = p.bits,
        seed = p.seed, maxBucket = p.maxBucket, collectCap = 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(degraded === admitted)
  }

  test("in-memory admission exclusion stays batch-bounded and drops overlapping ids") {
    val corpus = Seq(
      (30L, "alpha beta gamma delta epsilon zeta"),
      (31L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "unrelated words that share no shingles at all"),
      (33L, "fresh unique content admitted for sure")).toDF("doc_id", "text")
    val admitted = NearDup.admitBatch(corpus, batch, "text", "doc_id",
      n = 3, minJaccard = 0.5).select($"doc_id").as[Long].collect().toSet
    assert(admitted === Set(33L), s"got $admitted")
    // sanity: a batch with no overlap and no pairs is admitted whole
    val clean = batch.withColumn("doc_id", col("doc_id") + lit(100L))
    val all = NearDup.admitBatch(corpus, clean, "text", "doc_id",
      n = 3, minJaccard = 0.5).select($"doc_id").as[Long].collect().toSet
    assert(all === Set(130L, 133L))
  }
}
