package graft

import org.apache.spark.sql.functions._
import graft.operators.{Merge, Payload}

/** Mirrors `tests/integration/staging/test_staging_repo.py` and
  * `tests/unit/staging/test_payload.py`.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("payload excludes _-prefixed meta cols, keys sorted, hash = sha256(payload) (test_payload.py:7-17)") {
    val df = Seq(("a", "NEW", "r1")).toDF("id", "status", "_run_id")
    val out = Payload.withPayloadAndHash(df)
    val r = out.head()
    val payload = r.getAs[String]("payload")
    assert(payload == """{"id":"a","status":"NEW"}""") // sorted keys, compact, no meta
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("payload_hash") == expected)
  }

  test("payload keeps null fields as \"field\":null like the reference's json.dumps") {
    val df = Seq(("a", null.asInstanceOf[String], "r1")).toDF("id", "status", "_run_id")
    val r = Payload.withPayloadAndHash(df).head()
    // Spark's to_json default DROPS null fields — the reference emits them;
    // a dropped field changes the sha256 and breaks the O-11 conflict key
    // against reference-written history
    assert(r.getAs[String]("payload") == """{"id":"a","status":null}""")
  }

  test("history append is idempotent: rerunning the same batch inserts 0 (test_staging_repo.py:7-27)") {
    val batch = Seq(
      ("a", ts("2024-01-01 00:00:00"), "h1"),
      ("b", ts("2024-01-01 00:00:01"), "h2")).toDF("id", "updated_at", "payload_hash")
    val empty = batch.limit(0)
    val first = Merge.historyDelta(empty, batch)
    assert(first.count() == 2)
    val history = empty.unionByName(first)
    assert(Merge.historyDelta(history, batch).count() == 0) // rerun → no-op
  }

  test("history append dedups within the incoming batch on the conflict key") {
    val batch = Seq(
      ("a", ts("2024-01-01 00:00:00"), "h1"),
      ("a", ts("2024-01-01 00:00:00"), "h1")).toDF("id", "updated_at", "payload_hash")
    assert(Merge.historyDelta(batch.limit(0), batch).count() == 1)
  }

  test("bloom-accelerated history delta equals the plain anti-join and prunes the scan") {
    // 500 history rows, a 60-row batch of which 40 keys already exist: the
    // bloom pre-filter must keep every truly-matching history row (no false
    // negatives) so the delta is row-identical to the plain form
    val history = (1L to 500L).map(i => (s"k$i", ts("2024-01-01 00:00:00"), s"h$i"))
      .toDF("id", "updated_at", "payload_hash")
    val batch = ((461L to 500L) ++ (1001L to 1020L))
      .map(i => (s"k$i", ts("2024-01-01 00:00:00"), s"h$i"))
      .toDF("id", "updated_at", "payload_hash")
    val plain = Merge.historyDelta(history, batch).select($"id").as[String].collect().toSet
    val bloom = Merge.historyDeltaBloom(history, batch, expectedItems = 1000L)
      .select($"id").as[String].collect().toSet
    assert(bloom == plain)
    assert(bloom == (1001L to 1020L).map(i => s"k$i").toSet)
    // (plan-shape pin lives in PlanAuditSpec on the parquet-backed q64 —
    // over a LocalRelation the optimizer folds the probe into the scan)
  }

  test("latest upsert: newer wins, older never clobbers, ties keep existing (test_staging_repo.py:29-73)") {
    val existing = Seq(
      ("a", ts("2024-01-02 00:00:00"), "old-a"),
      ("b", ts("2024-01-02 00:00:00"), "old-b"),
      ("c", ts("2024-01-02 00:00:00"), "old-c")).toDF("id", "updated_at", "note")
    val incoming = Seq(
      ("a", ts("2024-01-03 00:00:00"), "new-a"),  // newer → wins
      ("b", ts("2024-01-01 00:00:00"), "new-b"),  // older → loses
      ("c", ts("2024-01-02 00:00:00"), "new-c"),  // tie → existing survives
      ("d", ts("2024-01-01 00:00:00"), "new-d"))  // brand new key → inserted
      .toDF("id", "updated_at", "note")
    val merged = Merge.latestUpsert(existing, incoming).orderBy("id")
    val notes = merged.select("note").as[String].collect().toSeq
    assert(notes == Seq("new-a", "old-b", "old-c", "new-d"))
  }

  test("latest upsert collapses multi-version incoming batches to the newest") {
    val existing = Seq(("a", ts("2024-01-01 00:00:00"), "old")).toDF("id", "updated_at", "note")
    val incoming = Seq(
      ("a", ts("2024-01-02 00:00:00"), "v2"),
      ("a", ts("2024-01-03 00:00:00"), "v3")).toDF("id", "updated_at", "note")
    val merged = Merge.latestUpsert(existing, incoming)
    assert(merged.count() == 1)
    assert(merged.select("note").as[String].head() == "v3")
  }

  test("withStageFlags counts only rows that change state") {
    val existing = Seq(
      ("a", ts("2024-01-02 00:00:00"), "old-a"),
      ("b", ts("2024-01-02 00:00:00"), "old-b"),
      ("e", null, "old-e")).toDF("id", "updated_at", "note")
    val incoming = Seq(
      ("a", ts("2024-01-03 00:00:00"), "new-a"),  // newer → counts
      ("b", ts("2024-01-02 00:00:00"), "tie-b"),  // tie → strict '>' → not counted
      ("d", ts("2024-01-01 00:00:00"), "new-d"),  // new key → counts
      ("e", null, "null-e"))                      // null vs null → existing kept
      .toDF("id", "updated_at", "note")
    val flagged = Merge.withStageFlags(incoming.limit(0), existing, incoming,
      histKeys = Seq("id", "updated_at", "note"))
    assert(flagged.filter($"_wins").select("id").as[String].collect().toSet == Set("a", "d"))
    // and the merge agrees: e keeps its existing row
    assert(Merge.latestUpsert(existing, incoming).filter($"id" === "e")
      .select("note").as[String].head() == "old-e")
  }

  test("withStageFlags + applyWinners equal historyDelta + latestUpsert on random batches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", StringType), StructField("updated_at", TimestampType),
      StructField("payload_hash", StringType), StructField("note", StringType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def sorted(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    // versions include null; few values, so ties and older versions are common
    val versions = None +: (1 to 4).map(d => Some(ts(s"2024-01-0$d 00:00:00")))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      def ver() = versions(rnd.nextInt(versions.size)).orNull
      def hash() = s"h${rnd.nextInt(2)}"
      // latest: one row per id k0..k7 (k8..k11 are new keys)
      val existing = df((0 until 8).map(i => Row(s"k$i", ver(), hash(), s"ex$i")))
      val drawn = (0 until 24).map(j => Row(s"k${rnd.nextInt(12)}", ver(), hash(), s"b$j"))
      // exact duplicates, and same-key rows that differ only in the note
      val batchRows = drawn ++ drawn.take(4) ++
        drawn.slice(4, 8).map(r => Row(r(0), r(1), r(2), s"${r(3)}-again"))
      val batch = df(rnd.shuffle(batchRows))
      // history holds some batch keys (one of them twice) and some other rows
      val history = df(batchRows.take(6) ++ batchRows.take(1) ++
        (0 until 4).map(i => Row(s"k$i", ver(), hash(), s"hist$i")))

      val flagged = Merge.withStageFlags(history, existing, batch)
      val c = flagged.agg(count(lit(1)), count_if($"_new_hist"), count_if($"_wins")).head()
      val winners = flagged.filter($"_wins").drop("_new_hist", "_wins")
      val merged = Merge.latestUpsert(existing, batch)
      val delta = Merge.historyDelta(history, batch)
      assert(sorted(Merge.applyWinners(existing, winners)) == sorted(merged), s"seed $seed latest")
      assert(sorted(flagged.filter($"_new_hist").drop("_new_hist", "_wins")) == sorted(delta),
        s"seed $seed history")
      assert(c.getLong(0) == batchRows.size)
      assert(c.getLong(1) == delta.count(), s"seed $seed history count")
      assert(c.getLong(2) == sorted(merged).diff(sorted(existing)).size, s"seed $seed winner count")
    }
  }

  test("latest upsert: exact (key, version) duplicates in one batch resolve " +
       "deterministically to the latest-arriving row") {
    val existing = Seq(("a", ts("2024-01-01 00:00:00"), "old"))
      .toDF("id", "updated_at", "note")
    // two rows with IDENTICAL (id, updated_at) — executemany later-row-wins
    val incoming = Seq(
      ("a", ts("2024-01-02 00:00:00"), "first-arrival"),
      ("a", ts("2024-01-02 00:00:00"), "last-arrival")).toDF("id", "updated_at", "note")
    val notes = (1 to 5).map { _ =>
      Merge.latestUpsert(existing, incoming).select("note").as[String].head()
    }
    assert(notes.distinct == Seq("last-arrival"), s"nondeterministic or wrong: $notes")
  }

  test("scd2Build: changes open versions, repeats collapse, intervals abut, one current per key") {
    val obs = Seq(
      // key 1: A A B A  → versions A[t1,t3) B[t3,t4) A[t4,null)
      (1L, "A", ts("2024-01-01 00:00:01"), 1L),
      (1L, "A", ts("2024-01-01 00:00:02"), 2L),
      (1L, "B", ts("2024-01-01 00:00:03"), 3L),
      (1L, "A", ts("2024-01-01 00:00:04"), 4L),
      // key 2: null null C → null[t1,t2) C[t2,null) (null→null collapses,
      // null→C is a change)
      (2L, null, ts("2024-01-01 00:00:01"), 5L),
      (2L, null, ts("2024-01-01 00:00:02"), 6L),
      (2L, "C", ts("2024-01-01 00:00:03"), 7L))
      .toDF("user_id", "event_type", "obs_ts", "event_id")
    val out = Merge.scd2Build(obs, "user_id", "event_type", "obs_ts", "event_id")
      .orderBy("user_id", "valid_from")
      .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
      .collect()
    assert(out.length == 5)
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    // intervals abut: each valid_to equals the next valid_from
    assert(k1.init.map(_.getTimestamp(3)).toSeq == k1.tail.map(_.getTimestamp(2)).toSeq)
    val k2 = out.filter(_.getLong(0) == 2L)
    assert(k2.map(r => Option(r.getString(1))).toSeq == Seq(None, Some("C")))
    // exactly one open (is_current) version per key, and it has null valid_to
    val current = out.filter(_.getBoolean(4))
    assert(current.length == 2 && current.forall(_.isNullAt(3)))
  }
}
