package graft

import graft.functions.{NearDup, Par}

/** The hot-key cap of the near-dup index: posting lists longer than
  * `maxBucket` generate no candidates; and `Par.concurrently`.
  */
class ParSpec extends SparkSpec {
  import spark.implicits._

  test("hot-key cap: maxBucket 1000 keeps all 435 pairs, 10 keeps none") {
    // 30 docs sharing one stop-shingle run: uncapped, every pair (30·29/2)
    // is a candidate; capped at 10 postings, the shared shingles generate none
    val shared = (1L to 30L).map(i => (i, s"the common stop shingle plus unique$i tail$i"))
      .toDF("doc_id", "text")
    def pairs(maxBucket: Int): Set[(Long, Long)] =
      NearDup.ngramJaccardPairs(shared, "text", "doc_id", n = 3,
          minJaccard = 0.01, maxBucket = maxBucket)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs(1000).size == 435)
    assert(pairs(10).isEmpty)
  }

  test("concurrently: every thunk sees the caller's job tags") {
    val sc = spark.sparkContext
    sc.addJobTag("par-spec-tag")
    try {
      val seen = Par.concurrently(Seq(() => sc.getJobTags(), () => sc.getJobTags()))
      assert(seen.forall(_.contains("par-spec-tag")), seen)
    } finally sc.removeJobTag("par-spec-tag")
  }

  test("concurrently: a failure is rethrown only after a slower sibling has finished") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.concurrently(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); finished.set(true) })))
    assert(e.getMessage == "first")
    assert(finished.get, "rethrown while a sibling thunk was still running")
  }
}
