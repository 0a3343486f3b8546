package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{ShingleIndex, VectorIndex}

/** Determinism pins for the corpora and indexes the retired admission
  * probe main measured (BASELINE.md §Round 12/13). The probe's decade comparisons
  * (sf0.1 → sf1 → sf10 → sf100-scale) are only meaningful because:
  *  1. GenScale×K index cardinality is EXACTLY ×K (postings 260,388 →
  *     2,603,880 → 26,038,800 across the pinned decades — per-copy token
  *     suffixes keep every copy's shingle count identical);
  *  2. the COPY-0 slice of a scaled index is verbatim the unscaled index
  *     (so the fixed probe batch matches exactly the same postings at
  *     every scale — admitted rows must be scale-invariant);
  *  3. the index content itself is deterministic (content-hash pinned —
  *     a GenScale or shingling/LSH edit cannot silently shift the
  *     measured tables without failing here).
  * A future edit that breaks any of the three invalidates every pinned
  * probe table; this spec makes that loud.
  */
class AdmissionProbeSpec extends SparkSpec {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"
  private val docShift = 1000000L // GenScale's doc/vec copy offset

  test("GenScale×K index determinism: postings exactly ×K, copy-0 verbatim, content-hash pinned") {
    val dst = Files.createTempDirectory("graft-admprobe-k2").toString
    GenScale.run(spark, src, dst, 2)

    // lexical index over source vs ×2 corpus
    val p = ShingleIndex.Params(n = 3, minJaccard = 0.2)
    val idx1 = Files.createTempDirectory("graft-admprobe-l1").toString
    val idx2 = Files.createTempDirectory("graft-admprobe-l2").toString
    ShingleIndex.append(spark, idx1, spark.read.parquet(s"$src/documents.parquet"), p)
    ShingleIndex.append(spark, idx2, spark.read.parquet(s"$dst/documents.parquet"), p)
    val c1 = ShingleIndex.postings(spark, idx1).count()
    val c2 = ShingleIndex.postings(spark, idx2).count()
    assert(c2 === 2 * c1, "per-copy token suffixes must keep postings exactly ∝ K")
    // copy-0 slice is verbatim the unscaled index
    val m1 = ShingleIndex.postings(spark, idx1).as[(Long, Long)].collect().sorted.toSeq
    val m2c0 = ShingleIndex.postings(spark, idx2).filter($"_id" < docShift)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(m2c0 === m1, "copy-0 postings must be byte-identical to the source index")
    // content-hash pin: order-free XOR-fold of row hashes (overflow-free under ANSI) — shifts iff the
    // shingling expression, the corpus bytes, or GenScale's copy-0
    // identity change
    def contentHash(dir: String): Long = ShingleIndex.postings(spark, dir)
      .agg(bit_xor(xxhash64(col("_id"), col("_h")))).as[Long].head()
    assert(c1 === 26903L, s"sf0.001 lexical postings count moved: $c1")
    assert(contentHash(idx1) === 6149850214036578103L,
      s"sf0.001 lexical index content hash moved: ${contentHash(idx1)}")

    // vector index: postings = rows × tables exactly; copy-0 verbatim
    val vp = VectorIndex.Params(dim = 64, tables = 48, bits = 16)
    val v1 = Files.createTempDirectory("graft-admprobe-v1").toString
    val v2 = Files.createTempDirectory("graft-admprobe-v2").toString
    VectorIndex.append(spark, v1, spark.read.parquet(s"$src/embeddings.parquet"), vp)
    VectorIndex.append(spark, v2, spark.read.parquet(s"$dst/embeddings.parquet"), vp)
    val n1 = spark.read.parquet(s"$src/embeddings.parquet").count()
    assert(VectorIndex.postings(spark, v1).count() === n1 * vp.tables)
    assert(VectorIndex.postings(spark, v2).count() === 2 * n1 * vp.tables)
    val vm1 = VectorIndex.postings(spark, v1).as[(Long, Long)].collect().sorted.toSeq
    val vm2c0 = VectorIndex.postings(spark, v2).filter($"_id" < docShift)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(vm2c0 === vm1, "copy-0 vector postings must be byte-identical")
    def vContentHash(dir: String): Long = VectorIndex.postings(spark, dir)
      .agg(bit_xor(xxhash64(col("_id"), col("_tb")))).as[Long].head()
    assert(vContentHash(v1) === -75104225060751817L,
      s"sf0.001 vector index content hash moved: ${vContentHash(v1)}")
  }

  test("the probe batch is scale-invariant: its keys probe only copy-0 shingles") {
    // GenScale suffixes every token of copy i ≥ 1, so the %7 batch's
    // shingle keys can never collide with a scaled copy's postings — the
    // construction that makes admitted-rows identical across decades
    val dst = Files.createTempDirectory("graft-admprobe-k3").toString
    GenScale.run(spark, src, dst, 3)
    val batchKeys = {
      val b = spark.read.parquet(s"$src/documents.parquet")
        .filter($"doc_id" % 7 === 0)
      b.select(explode(graft.plans.GraftFunctions
        .wordShingleHashes(b, col("text"), 3)).as("_h")).distinct()
    }
    val scaled = spark.read.parquet(s"$dst/documents.parquet")
    val copies = scaled.filter($"doc_id" >= docShift)
    val copyKeys = copies.select(explode(graft.plans.GraftFunctions
      .wordShingleHashes(copies, col("text"), 3)).as("_h")).distinct()
    assert(copyKeys.join(batchKeys, Seq("_h"), "leftsemi").count() === 0L,
      "copy ≥ 1 shingles must be disjoint from the probe batch's keys")
  }
}
