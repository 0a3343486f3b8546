package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.pipeline.Simulator
import graft.operators.StateMachine
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{StatusEvent, Transition}

/** Streaming variant (SURVEY.md §7 M5) + the deterministic simulator. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming latest-state sink: newer wins across micro-batches, replays deduped") {
    val dir = Files.createTempDirectory("stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("id", "updated_at", "status")
    val q = StreamingPipeline.latestStateSink(stream, s"$dir/latest", s"$dir/ckpt")
    try {
      mem.addData(("a", ts("2024-02-01 10:00:00"), "NEW"), ("b", ts("2024-02-01 10:01:00"), "NEW"))
      q.processAllAvailable()
      mem.addData(
        ("a", ts("2024-02-01 11:00:00"), "PROCESSING"), // newer → wins
        ("a", ts("2024-02-01 10:00:00"), "NEW"),        // replay → deduped
        ("c", ts("2024-02-01 11:30:00"), "NEW"))
      q.processAllAvailable()
      val latest = spark.read.parquet(s"$dir/latest")
      assert(latest.count() == 3)
      assert(latest.filter($"id" === "a").select("status").as[String].head() == "PROCESSING")
    } finally q.stop()
  }

  test("windowed counts with watermark (tumbling windows over the change feed)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val counts = StreamingPipeline.windowedCounts(
      mem.toDF().toDF("id", "updated_at", "status"), "updated_at", "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      mem.addData(
        ("a", ts("2024-02-01 10:05:00"), "NEW"),
        ("b", ts("2024-02-01 10:55:00"), "NEW"),
        ("c", ts("2024-02-01 11:05:00"), "PROCESSING"))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3)
      assert(rows.length == 2) // two distinct (window, status) groups... NEW@10, PROCESSING@11
    } finally q.stop()
  }

  test("streaming sessionization: gap merge, session close on watermark, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingPipeline.sessionized(
      mem.toDF().toDF("user_id", "ts"), Seq("user_id"), "ts",
      gap = "10 minutes", lateness = "1 minute")
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two bursts separated by > gap; user 2: one event
      mem.addData(
        (1L, ts("2024-02-01 10:00:00")), (1L, ts("2024-02-01 10:05:00")),
        (1L, ts("2024-02-01 10:30:00")),
        (2L, ts("2024-02-01 10:00:00")))
      q.processAllAvailable()
      // advance the watermark far past every session end → all sessions emit
      mem.addData((99L, ts("2024-02-01 13:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "session_start", "n_events")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      assert(rows.contains((1L, ts("2024-02-01 10:00:00"), 2L))) // burst merged
      assert(rows.contains((1L, ts("2024-02-01 10:30:00"), 1L))) // split by gap
      assert(rows.contains((2L, ts("2024-02-01 10:00:00"), 1L)))
      // batch parity: same splits (numbering aside) from the batch operator
      val batch = graft.operators.Sessionize.sessions(
          Seq((1L, ts("2024-02-01 10:00:00"), 1L), (1L, ts("2024-02-01 10:05:00"), 2L),
            (1L, ts("2024-02-01 10:30:00"), 3L), (2L, ts("2024-02-01 10:00:00"), 4L))
            .toDF("user_id", "ts", "id"),
          Seq("user_id"), "ts", "id", gapSeconds = 600L)
        .select("user_id", "session_start", "n_events")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      assert(batch === rows.filter(_._1 != 99L))
    } finally q.stop()
  }

  test("statusTransitions: mapGroupsWithState emits per-key transitions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StatusEvent]
    val q = StreamingPipeline.statusTransitions(mem.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    try {
      mem.addData(StatusEvent("a", "NEW", ts("2024-02-01 10:00:00")))
      q.processAllAvailable()
      mem.addData(
        StatusEvent("a", "PROCESSING", ts("2024-02-01 11:00:00")),
        StatusEvent("a", "FINISHED", ts("2024-02-01 12:00:00")),
        StatusEvent("b", "NEW", ts("2024-02-01 11:30:00")))
      q.processAllAvailable()
      val trans = spark.table("trans").as[Transition].collect().sortBy(_.at.getTime)
      assert(trans.map(t => (t.id, t.from, t.to)).toSeq ==
        Seq(("a", "NEW", "PROCESSING"), ("a", "PROCESSING", "FINISHED")))
    } finally q.stop()
  }

  test("transformWithState transitions: same semantics as mapGroupsWithState, TTL state") {
    implicit val sqlCtx = spark.sqlContext
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // checkpoint checksum writers deadlock under local[4]'s saturated task
    // threads (awaitResult on a checksum future that never runs) — not a
    // feature under test here
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // TTL state runs in ProcessingTime mode, where the engine keeps
    // scheduling eviction micro-batches — processAllAvailable never settles.
    // AvailableNow drains what exists then stops; restarting on the same
    // checkpoint ALSO proves the RocksDB state survives a restart.
    val root = Files.createTempDirectory("tws").toString
    val mem = MemoryStream[StatusEvent]
    def runOnce(): Unit = {
      // parquet sink: the memory sink refuses checkpoint recovery, and the
      // restart is the point — RocksDB state must survive it
      val q = StreamingPipeline.statusTransitionsTWS(mem.toDS(),
          stateTtl = java.time.Duration.ofHours(1))
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      try q.awaitTermination(120000) finally q.stop()
    }
    try {
      mem.addData(
        StatusEvent("a", "NEW", ts("2024-02-01 10:00:00")),
        StatusEvent("a", "PROCESSING", ts("2024-02-01 11:00:00")))
      runOnce()
      mem.addData(
        StatusEvent("a", "FINISHED", ts("2024-02-01 12:00:00")), // state across restart
        StatusEvent("b", "NEW", ts("2024-02-01 12:30:00")),
        StatusEvent("b", "NEW", ts("2024-02-01 12:45:00")))      // no-op repeat
      runOnce()
      val got = spark.read.parquet(s"$root/out").as[Transition].collect()
        .map(t => (t.id, t.from, t.to)).toSet
      assert(got === Set(
        ("a", "NEW", "PROCESSING"),
        ("a", "PROCESSING", "FINISHED")))
    } finally {
      spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      saved match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming corpus maintenance: foreachBatch incremental admission into a manifest table") {
    // the streaming form of q55: each micro-batch of documents dedups
    // against the manifest-committed corpus (batch-vs-corpus fingerprint
    // join, never corpus×corpus) and appends only the admitted docs — the
    // anti-join/idempotent-sink discipline applied to corpus building
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("corpus-stream").resolve("corpus").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val existing = ManifestStore.read(batch.sparkSession, dir, schema)
        val admitted = graft.functions.NearDup.admitBatch(existing, batch,
          "text", "doc_id", n = 3, minJaccard = 0.5)
        if (!admitted.isEmpty) ManifestStore.append(admitted, dir): Unit
      }
      .start()
    try {
      // batch 1: two distinct docs + an intra-batch near-dup of doc 1
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "an entirely different document about spark engines and joins"),
        (3L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
      val after1 = ManifestStore.read(spark, dir, schema)
        .select($"doc_id").as[Long].collect().toSet
      assert(after1 === Set(1L, 2L), s"batch 1 admitted $after1")
      // batch 2: a near-dup of the STORED doc 1 (must be rejected against
      // the corpus, not just within its own batch) + one genuinely new doc
      mem.addData(
        (4L, "the quick brown fox jumps over the lazy dog yesterday"),
        (5L, "completely unrelated text with no overlap whatsoever here"))
      q.processAllAvailable()
      val after2 = ManifestStore.read(spark, dir, schema)
        .select($"doc_id").as[Long].collect().toSet
      assert(after2 === Set(1L, 2L, 5L), s"batch 2 left $after2")
    } finally q.stop()
  }

  test("graft-manifest streaming sink: micro-batches commit exactly-once into the table format") {
    // the first-class sink surface: writeStream.format("graft-manifest")
    // commits every micro-batch through the idempotent (appId, batchId)
    // protocol — no hand-rolled foreachBatch plumbing
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val root = Files.createTempDirectory("manifest-sink")
    val dir = root.resolve("t").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("id", "v").writeStream
      .format("graft-manifest")
      .option("checkpointLocation", root.resolve("cp").toString)
      .option("appId", "ingest-test")
      .start(dir)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      val got = ManifestStore.read(spark, dir, schema)
        .as[(Long, String)].collect().toSet
      assert(got === Set(1L -> "a", 2L -> "b", 3L -> "c"))
      // commits carry the stream op key; replaying batch 0 by hand is a no-op
      assert(ManifestStore.streamBatchHighWater(spark, dir, "ingest-test") >= 1L)
      assert(ManifestStore.appendIdempotent(
        Seq((1L, "a")).toDF("id", "v"), dir, "ingest-test", 0L) === None)
    } finally q.stop()
  }

  test("streaming sink keeps a TRANSFORM-partitioned target's hidden layout") {
    // a stream that names no partitionBy must still route through the
    // table's DECLARED transform layout — a plain-name fallback would
    // silently append unpartitioned files and erode pruning every batch
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val root = Files.createTempDirectory("manifest-sink-hp")
    val dir = root.resolve("t").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDS().toDF("id", "ts").writeStream
      .format("graft-manifest")
      .option("checkpointLocation", root.resolve("cp").toString)
      .option("appId", "ingest-hp")
      .start(dir)
    try {
      mem.addData((1L, ts("2024-01-10T05:00:00Z")),
        (2L, ts("2024-01-11T05:00:00Z")))
      q.processAllAvailable()
      mem.addData((3L, ts("2024-01-12T05:00:00Z")))
      q.processAllAvailable()
      val s0 = ManifestStore.currentSnapshot(spark, dir).get
      assert(s0.files.nonEmpty)
      assert(s0.files.forall(f => s0.parts.get(f).exists(_.contains("days(ts)"))),
        "every streamed file must record its derived day partition value")
      assert(s0.files.flatMap(f => s0.parts(f).get("days(ts)")).toSet
        === Set("19732", "19733", "19734"))
      val kept = ManifestStore.pruneFiles(s0, "ts",
        ts("2024-01-11T00:00:00Z"), ts("2024-01-11T23:59:59Z"))
      assert(kept.nonEmpty && kept.size < s0.files.size,
        s"day pruning must hold on streamed files: ${kept.size}/${s0.files.size}")
    } finally q.stop()
  }

  test("streaming lexical maintenance: foreachBatch admission through the persisted shingle index") {
    // the maintained-index twin of the corpus-maintenance test above: each
    // micro-batch probes the PERSISTED postings table (batch×index join,
    // the corpus is never re-shingled) and only admitted docs' fingerprints
    // append — the ShingleIndex production loop under streaming ingest
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.ShingleIndex
    val dir = Files.createTempDirectory("shindex-stream").resolve("index").toString
    val p = ShingleIndex.Params(n = 3, minJaccard = 0.5)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ShingleIndex.admitAndAppend(batch.sparkSession, dir, batch, p): Unit
      }
      .start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "an entirely different document about spark engines and joins"),
        (3L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
      val after1 = ShingleIndex.shingles(spark, dir).select($"_id").as[Long].collect().toSet
      assert(after1 === Set(1L, 2L), s"batch 1 admitted $after1")
      // a near-dup of the STORED doc 1 must be rejected against the
      // persisted index, not just within its own batch
      mem.addData(
        (4L, "the quick brown fox jumps over the lazy dog yesterday"),
        (5L, "completely unrelated text with no overlap whatsoever here"))
      q.processAllAvailable()
      val after2 = ShingleIndex.shingles(spark, dir).select($"_id").as[Long].collect().toSet
      assert(after2 === Set(1L, 2L, 5L), s"batch 2 left $after2")
    } finally q.stop()
  }

  test("streaming expectations gate: violators quarantine per batch, the stream never stalls") {
    // the table-boundary quality contract under streaming ingest: each
    // micro-batch passes through Expectations.appendChecked in Quarantine
    // mode — clean rows commit to the corpus table, violators dead-letter
    // into the sibling quarantine table tagged with their batch id, and a
    // batch of pure violations must not break the stream
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{Expectations, ManifestStore}
    import graft.sources.Expectations.{Expectation, Quarantine}
    val dir = Files.createTempDirectory("expect-stream").resolve("t").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, score BIGINT")
    val qSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, score BIGINT, _failed_expectations STRING, _batch_label STRING")
    val exps = Seq(Expectation("score_nonneg", col("score") >= 0))
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDS().toDF("id", "score").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        Expectations.appendChecked(batch, dir, exps, Quarantine,
          batchLabel = s"b$bid"): Unit
      }
      .start()
    try {
      mem.addData((1L, 5L), (2L, -1L))
      q.processAllAvailable()
      mem.addData((3L, -9L)) // all-violating batch: nothing commits
      q.processAllAvailable()
      mem.addData((4L, 7L))
      q.processAllAvailable()
      val kept = ManifestStore.read(spark, dir, schema)
        .select($"id").as[Long].collect().toSet
      assert(kept === Set(1L, 4L), s"committed $kept")
      val quarantined = ManifestStore.read(spark, dir + "_quarantine", qSchema)
        .select($"id", $"_failed_expectations").as[(Long, String)].collect().toMap
      assert(quarantined === Map(2L -> "score_nonneg", 3L -> "score_nonneg"))
    } finally q.stop()
  }

  test("streaming semantic maintenance: foreachBatch vector admission into the maintained index") {
    // the streaming form of q120 — the embedding-space twin of the corpus
    // maintenance test above: each micro-batch of vectors probes the
    // persisted bucket-postings index (batch-vs-index join, never
    // corpus×corpus), and only the admitted vectors append to the
    // manifest-backed index tables
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.VectorIndex
    val dir = Files.createTempDirectory("vecindex-stream").resolve("index").toString
    val p = VectorIndex.Params(dim = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDS().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VectorIndex.admitAndAppend(batch.sparkSession, dir, batch,
          minCosine = 0.4, p): Unit
      }
      .start()
    try {
      // batch 1: two distinct directions + an intra-batch near-dup of vec 1
      mem.addData(
        (1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(0f, 1f, 0f, 0f)),
        (3L, Array(0.95f, 0.1f, 0f, 0f))) // cos≈0.99 vs vec 1 → drops
      q.processAllAvailable()
      val after1 = VectorIndex.vectors(spark, dir).select($"_id").as[Long].collect().toSet
      assert(after1 === Set(1L, 2L), s"batch 1 admitted $after1")
      // batch 2: a near-dup of the STORED vec 1 (must be rejected against
      // the persisted index, not just within its own batch) + one new
      mem.addData(
        (4L, Array(0.9f, 0.15f, 0f, 0f)), // cos≈0.99 vs stored vec 1 → drops
        (5L, Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      val after2 = VectorIndex.vectors(spark, dir).select($"_id").as[Long].collect().toSet
      assert(after2 === Set(1L, 2L, 5L), s"batch 2 left $after2")
    } finally q.stop()
  }

  test("streaming profile maintenance: per-batch states, replay-idempotent, equal the direct profile") {
    // the streaming form of q100: the state table keeps one moment row per
    // (batch_id, group) and each foreachBatch call REPLACES its own batch's
    // rows — so a micro-batch replay (foreachBatch is at-least-once: crash
    // between sink write and checkpoint commit re-runs the batch) rewrites
    // identical rows instead of double-adding them. History is never
    // rescanned; the finished profile merges the per-batch rows at read
    // time and stays bit-identical to profiling everything at once.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{Corpus, TextAnalysis}
    import graft.sources.StateStore
    val dir = Files.createTempDirectory("profile-stream").resolve("state").toString
    val stSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "batch_id BIGINT, lang STRING, n BIGINT, s1 BIGINT, s2 BIGINT, mn BIGINT, mx BIGINT")
    def mergeBatch(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val s = batch.sparkSession
      val tc = TextAnalysis.tokenCount(coalesce(col("text"), lit("")))
      val state = Corpus.profileState(batch, Seq("lang"), tc)
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "lang", "n", "s1", "s2", "mn", "mx")
      val others = StateStore.read(s, dir, stSchema)
        .filter(col("batch_id") =!= batchId)
      StateStore.overwrite(others.unionByName(state), dir)
    }
    def finished() = Corpus.profileFinish(Corpus.profileMerge(
      Seq(StateStore.read(spark, dir, stSchema).drop("batch_id")),
      Seq("lang")), Seq("lang"))
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDS().toDF("doc_id", "lang", "text").writeStream
      .outputMode("append").foreachBatch(mergeBatch _).start()
    val data = Seq(
      (1L, "en", "one two three"), (2L, "en", "four five"),
      (3L, "de", "eins zwei drei vier"),
      (4L, "en", "six"), (5L, "de", "fünf"))
    try {
      mem.addData(data(0), data(1), data(2))
      q.processAllAvailable()
      mem.addData(data(3), data(4))
      q.processAllAvailable()
      val direct = Corpus.profileFinish(Corpus.profileState(
        data.toDF("doc_id", "lang", "text"), Seq("lang"),
        TextAnalysis.tokenCount(coalesce($"text", lit("")))), Seq("lang"))
      val streamed = finished()
      assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
        s"streamed ${streamed.collect().mkString(";")} vs direct ${direct.collect().mkString(";")}")
      // replay: re-running the LAST batch must leave the profile unchanged
      mergeBatch(data.slice(3, 5).toDF("doc_id", "lang", "text"), batchId = 1L)
      val replayed = finished()
      assert(replayed.exceptAll(direct).isEmpty && direct.exceptAll(replayed).isEmpty,
        "micro-batch replay inflated the profile")
    } finally q.stop()
  }

  test("streaming decontamination: eval-overlapping docs never reach the corpus") {
    // the full ingest guard: each micro-batch is decontaminated against the
    // held-out eval set FIRST, then dedup-admitted against the corpus —
    // the order every production pipeline uses (a contaminated doc must
    // not be admitted even if it is novel w.r.t. the corpus)
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("decon-stream").resolve("corpus").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val evalSet = Seq(
      (9001L, "what is the capital of france paris is the capital"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val clean = graft.functions.NearDup.decontaminate(batch, evalSet,
          "text", "doc_id", n = 3, minJaccard = 0.3)
        val existing = ManifestStore.read(batch.sparkSession, dir, schema)
        val admitted = graft.functions.NearDup.admitBatch(existing, clean,
          "text", "doc_id", n = 3, minJaccard = 0.5)
        if (!admitted.isEmpty) ManifestStore.append(admitted, dir): Unit
      }
      .start()
    try {
      mem.addData(
        (1L, "what is the capital of france paris is the capital city"), // leak
        (2L, "an entirely different document about spark engines and joins"))
      q.processAllAvailable()
      val after = ManifestStore.read(spark, dir, schema)
        .select($"doc_id").as[Long].collect().toSet
      assert(after === Set(2L), s"corpus holds $after — the benchmark leak got in")
    } finally q.stop()
  }

  test("streaming exact-collision gate catches a pasted benchmark sentence Jaccard admits") {
    // the two decontamination rules compose in the ingest seam: exact
    // n-gram collision FIRST (catches one memorized sentence inside a
    // long unrelated doc — document-level Jaccard stays under any sane
    // threshold on such a doc), then the Jaccard form for mostly-eval
    // docs. A doc failing either never reaches the corpus.
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("collision-stream").resolve("corpus").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val evalSet = Seq(
      (9001L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val collided = graft.functions.NearDup.exactContamination(
          batch, evalSet, "text", "doc_id", n = 5)
        val gated = batch.join(collided.select("doc_id"), Seq("doc_id"), "left_anti")
        val clean = graft.functions.NearDup.decontaminate(gated, evalSet,
          "text", "doc_id", n = 3, minJaccard = 0.3)
        if (!clean.isEmpty) ManifestStore.append(clean, dir): Unit
      }
      .start()
    try {
      mem.addData(
        // one pasted eval sentence inside a long doc: Jaccard over the
        // whole doc ~0.17 < 0.3, so only the collision gate stops it
        (1L, "completely unrelated preamble about engines and planners " +
          "the quick brown fox jumps over the lazy dog " +
          "followed by a long tail on shuffle partitioning and codegen stages"),
        (2L, "an entirely different document about spark engines and joins"))
      q.processAllAvailable()
      val after = ManifestStore.read(spark, dir, schema)
        .select($"doc_id").as[Long].collect().toSet
      assert(after === Set(2L), s"corpus holds $after — the pasted sentence got in")
    } finally q.stop()
  }

  test("streaming upsert + CDC feed: a maintained downstream view follows the table exactly") {
    // the full incremental stack in one seam: micro-batches MERGE into a
    // manifest table (upsertKeyed), the table's change feed drives IVM on
    // a downstream (count, sum) view, and the view equals the recompute
    // at every step — no snapshot rescan anywhere
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    import graft.operators.Ivm
    val dir = Files.createTempDirectory("upsert-stream").resolve("state").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v DOUBLE")
    @volatile var view = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, n_rows BIGINT, total DECIMAL(28,8)"))
    @volatile var lastSeen = 0L
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDS().toDF("k", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ManifestStore.upsertKeyed(batch.sparkSession, dir, schema, batch, "k")
          .foreach { v =>
            view = Ivm.applyDelta(view,
              ManifestStore.changes(batch.sparkSession, dir, lastSeen, v, schema),
              Seq("k"), "v")
            lastSeen = v
          }
      }
      .start()
    try {
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select($"k", $"n_rows", $"total".cast("double"))
          .as[(Long, Long, Double)].collect().toSet
      mem.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      mem.addData((1L, 5.0), (3L, 3.0)) // k=1 replaced, k=3 new
      q.processAllAvailable()
      assert(ManifestStore.read(spark, dir, schema).as[(Long, Double)].collect().toSet
        === Set((1L, 5.0), (2L, 2.0), (3L, 3.0)))
      val expected = Ivm.recompute(
        ManifestStore.read(spark, dir, schema), Seq("k"), "v")
      assert(norm(view) === norm(expected),
        "CDC-maintained view diverged from the recompute")
      assert(norm(view) === Set((1L, 1L, 5.0), (2L, 1L, 2.0), (3L, 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming drift monitor: a vocabulary-shifted batch reads higher KL than an in-distribution one") {
    // per-micro-batch ingest observability: tag the batch against a
    // reference corpus and read KL(batch ‖ combined) — the scraper-drift /
    // encoding-breakage alarm wired into the same foreachBatch seam as
    // admission and decontamination
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq.tabulate(20)(i =>
      (1000L + i, "spark join filter group window batch stream table row column"))
      .toDF("doc_id", "text")
    val drifts = scala.collection.concurrent.TrieMap[Long, Double]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val tagged = batch.select(lit("batch").as("part"), $"text")
            .unionByName(reference.select(lit("ref").as("part"), $"text"))
          val kl = graft.functions.Corpus.tokenKlDrift(tagged, "text", "part")
            .filter($"part" === "batch").select($"kl_div").as[Double].head()
          drifts.put(id, kl): Unit
        }
      }
      .start()
    try {
      // batch 0 speaks the reference vocabulary exactly
      mem.addData(
        (1L, "spark join filter group window batch stream table row column"),
        (2L, "filter group window spark join stream batch column row table"))
      q.processAllAvailable()
      // batch 1 speaks a disjoint vocabulary (scraper drifted)
      mem.addData(
        (3L, "llamas alpacas vicunas graze high andean plateaus every summer"),
        (4L, "quinoa farmers harvest terraced fields before winter storms arrive"))
      q.processAllAvailable()
    } finally q.stop()
    // identical distribution -> KL exactly ~0; disjoint vocabulary -> large
    assert(drifts(0L) < 0.05, s"in-distribution batch drifted: $drifts")
    assert(drifts(1L) > 1.0, s"shifted batch should alarm: $drifts")
  }

  test("source `where`: transform-pruned batch scans, sliced byte budget") {
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("stream-where").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    // four commits, one UTC day each → one file per commit (optimized
    // per-partition write), so per-batch file counts are exact
    (10 to 13).foreach { d =>
      spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
        s"($d, TIMESTAMP '2024-01-$d 05:00:00'), " +
        s"(${d + 100}, TIMESTAMP '2024-01-$d 21:00:00')")
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ts TIMESTAMP")
    val w = "ts BETWEEN TIMESTAMP '2024-01-11 00:00:00' AND " +
      "TIMESTAMP '2024-01-11 23:59:59.999999'"

    // 1. the batch scan reads ONLY the day's file — pinned on the
    //    EXECUTED plan of a manually-driven source batch
    val src = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false, where = Some(w))
    val off = src.getOffset.get
    src.getBatch(None, off)
    val qe = src.lastBatchExecution.get
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val rows = qe.executedPlan.executeCollect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val filesRead = scans(qe.executedPlan).map(_.metrics("numFiles").value).sum
    val total = ManifestStore.currentSnapshot(spark, dir).get.files.size
    assert(total === 4)
    assert(filesRead === 1L,
      s"the where predicate must prune the batch scan to day 19733's " +
        s"file, read $filesRead of $total")
    val ks = rows.map(_.getLong(0)).toSet
    assert(ks === Set(11L, 111L), s"row filter must be exact: $ks")

    // 2. maxBytesPerTrigger charges only the slice: out-of-day commits
    //    cost 0, so the whole backlog admits in ONE batch at a cap that
    //    would otherwise chunk it commit-by-commit
    val per = ManifestStore.readManifest(spark, dir, 2L).sizes.values.sum
    assert(per > 0L)
    val sliced = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false,
      maxBytesPerTrigger = Some(per), where = Some(w))
    // versions: v1 = CREATE (data-neutral), v2..v5 the four day INSERTs
    assert(sliced.getOffset.map(_.json.toLong) === Some(5L),
      "a one-day slice must admit the 4-day backlog in one batch")
    val unsliced = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false,
      maxBytesPerTrigger = Some(per))
    assert(unsliced.getOffset.map(_.json.toLong) === Some(2L),
      "without the slice the same cap chunks commit-by-commit")

    // 3. end-to-end: a real stream with the option emits exactly the
    //    slice's rows, across restarts of the backlog and fresh commits
    val seen = spark.readStream.format("graft-manifest")
      .schema(schema)
      .option("startingVersion", "earliest")
      .option("where", w)
      .load(dir)
      .writeStream.format("memory").queryName("where_slice")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      seen.processAllAvailable()
      assert(spark.table("where_slice").as[(Long, java.sql.Timestamp)]
        .collect().map(_._1).toSet === Set(11L, 111L))
      // fresh commits: one in-slice, one out — only the in-slice rows land
      spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
        "(211, TIMESTAMP '2024-01-11 09:00:00')")
      spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
        "(214, TIMESTAMP '2024-01-14 09:00:00')")
      seen.processAllAvailable()
      assert(spark.table("where_slice").as[(Long, java.sql.Timestamp)]
        .collect().map(_._1).toSet === Set(11L, 111L, 211L))
    } finally seen.stop()
  }

  test("source `where`: untyped string literal folds to a typed range (prunes files + slices bytes)") {
    // the docstring's own example shape — `ts >= '2024-01-12'` analyzes to
    // `ts >= CAST('2024-01-12' AS TIMESTAMP)`, which whereRanges must fold
    // back to a typed literal or the byte budget silently charges the
    // whole commit (ADVICE r11 #1)
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("stream-where-str").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    (10 to 13).foreach { d =>
      spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
        s"($d, TIMESTAMP '2024-01-$d 05:00:00')")
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ts TIMESTAMP")
    val w = "ts >= '2024-01-12'"
    val src = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false, where = Some(w))
    assert(src.whereRanges.nonEmpty,
      "the implicit CAST around an untyped literal must fold so the " +
        "range planner sees the conjunct")
    // byte budget charges only the slice: days 10–11 cost 0, so a cap of
    // one in-slice commit admits v1(create)+v2+v3+v4 in the first batch;
    // unfolded ranges would charge v2 the full file and stop at offset 2
    val per = ManifestStore.readManifest(spark, dir, 4L).sizes.values.sum -
      ManifestStore.readManifest(spark, dir, 3L).sizes.values.sum
    assert(per > 0L) // exactly day 12's fresh file
    val sliced = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false,
      maxBytesPerTrigger = Some(per), where = Some(w))
    assert(sliced.getOffset.map(_.json.toLong) === Some(4L),
      "out-of-slice commits must charge 0 bytes under a string-literal where")
    // and the rows are exact
    val full = new graft.sources.ManifestSource(spark, dir, schema, 0L,
      readChangeFeed = false, ignoreChanges = false, where = Some(w))
    full.getBatch(None, full.getOffset.get)
    val ks = full.lastBatchExecution.get.executedPlan.executeCollect()
      .map(_.getLong(0)).toSet
    assert(ks === Set(12L, 13L))
  }

  test("source `where` is row-exact under random predicates (property)") {
    // streamed rows ≡ batch filter, whether or not the predicate
    // translates to prune ranges: a translatable conjunct prunes files,
    // an opaque one (modulo arithmetic) only row-filters — NEVER drops a
    // matching row either way
    import graft.sources.ManifestStore
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ts TIMESTAMP")
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { round =>
      val dir = Files.createTempDirectory(s"stream-wp$round").toString
      spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
      (10 to 14).foreach { d =>
        val ks = (0 until 4).map(i => s"(${d * 100 + i + round * 10000}, " +
          s"TIMESTAMP '2024-01-$d ${"%02d".format(rnd.nextInt(24))}:30:00')")
        spark.sql(s"INSERT INTO graft.`$dir` VALUES ${ks.mkString(", ")}")
      }
      val lo = 10 + rnd.nextInt(4)
      val hi = lo + rnd.nextInt(15 - lo)
      val w = rnd.nextInt(3) match {
        case 0 => s"ts BETWEEN TIMESTAMP '2024-01-$lo 00:00:00' AND " +
          s"TIMESTAMP '2024-01-$hi 23:59:59.999999'"
        case 1 => s"k % ${2 + rnd.nextInt(3)} = 0" // opaque: row filter only
        case _ => s"k % 2 = 0 AND date(ts) >= DATE '2024-01-$lo'"
      }
      val src = new graft.sources.ManifestSource(spark, dir, schema, 0L,
        readChangeFeed = false, ignoreChanges = false, where = Some(w))
      val off = src.getOffset.get
      src.getBatch(None, off)
      val got = src.lastBatchExecution.get.executedPlan.executeCollect()
        .map(_.getLong(0)).toSet
      val want = ManifestStore.readLatest(spark, dir)
        .filter(org.apache.spark.sql.functions.expr(w))
        .select($"k").as[Long].collect().toSet
      assert(got === want, s"round $round where=[$w]: " +
        s"missing ${want -- got}, phantom ${got -- want}")
    }
  }

  test("a spec-evolution commit is data-neutral to streams: no refusal, no rows, zero bytes") {
    import graft.sources.ManifestStore
    val dir = Files.createTempDirectory("stream-evo").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
      "(1, TIMESTAMP '2024-01-10 01:00:00')")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, ts TIMESTAMP")
    val q = spark.readStream.format("graft-manifest").schema(schema)
      .option("startingVersion", "earliest").load(dir)
      .writeStream.format("memory").queryName("evo_stream")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("evo_stream").count() === 1L)
      // evolution mid-stream: ROW MODE must not refuse it (appendSafe),
      // must emit nothing for it, and the next insert lands under the
      // NEW spec and still streams
      spark.sql(s"CALL graft.set_partition_spec('$dir', 'hours(ts)')")
      spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
        "(2, TIMESTAMP '2024-01-11 02:30:00')")
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"row stream must survive the evolution commit: ${q.exception}")
      assert(spark.table("evo_stream").as[(Long, java.sql.Timestamp)]
        .collect().map(_._1).toSet === Set(1L, 2L))
    } finally q.stop()
    // CDF across the evolution commit: the file list is unchanged, so
    // the change feed carries ZERO rows for it (and tags the inserts
    // with their own commit versions, skipping the evolution version)
    val cdf = ManifestStore.changes(spark, dir, 0L,
      ManifestStore.currentSnapshot(spark, dir).get.version, schema)
    val byVersion = cdf.groupBy($"_commit_version")
      .count().as[(Long, Long)].collect().toMap
    val evoV = (1L to byVersion.keys.max).find { v =>
      ManifestStore.readManifest(spark, dir, v).op
        .startsWith("set-partition-spec:")
    }
    assert(evoV.isDefined, "the evolution commit must be in the lineage")
    assert(!byVersion.contains(evoV.get),
      s"the evolution commit must emit no CDF rows: $byVersion")
    assert(byVersion.values.sum === 2L, byVersion.toString)
  }

  test("simulator tick: deterministic, advances statuses legally, bumps updated_at") {
    val base = (1 to 200).map(i => (s"id$i", "NEW", ts("2024-01-01 00:00:00"), "loader"))
      .toDF("id", "status", "updated_at", "updated_by")
    val t1 = Simulator.tick(base, StateMachine.ibChain, tick = 1,
      tickTime = lit(ts("2024-01-02 00:00:00")))
    val t1again = Simulator.tick(base, StateMachine.ibChain, tick = 1,
      tickTime = lit(ts("2024-01-02 00:00:00")))
    assert(t1.collect().toSeq == t1again.collect().toSeq) // deterministic
    val statuses = t1.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(statuses.keySet.subsetOf(Set("NEW", "PROCESSING", "CANCELLED")))
    assert(statuses.getOrElse("PROCESSING", 0L) > 0) // some rows advanced
    // changed rows got the tick time; unchanged kept theirs
    val changed = t1.filter($"status" =!= "NEW")
    assert(changed.filter($"updated_at" =!= ts("2024-01-02 00:00:00")).count() == 0)
    assert(t1.filter($"status" === "NEW")
      .filter($"updated_at" =!= ts("2024-01-01 00:00:00")).count() == 0)
  }

  test("crash MID-foreachBatch: restart replays the batch, history absorbs it, latest converges") {
    // the reference's at-least-once-extract / exactly-once-staging triangle
    // (SURVEY §3.1) under REAL failure, not a graceful restart: kill the
    // query after the history append but before the latest merge, restart
    // from the same checkpoint, and assert the end-to-end contract —
    // history has no duplicates (O-11 idempotent dedup absorbs the whole
    // replayed batch) and latest equals the batch-mode answer.
    import graft.operators.Merge
    import graft.sources.ManifestStore
    val root = Files.createTempDirectory("crash-recovery")
    val srcDir = root.resolve("src").toString
    val histDir = root.resolve("hist").toString
    val latestDir = root.resolve("latest").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, updated_at TIMESTAMP, payload_hash STRING")
    // two source commits → with maxVersions=1, two micro-batches
    ManifestStore.append(Seq(
      (1L, ts("2024-01-10 10:00:00"), "h1a"),
      (2L, ts("2024-01-10 10:00:00"), "h2a")).toDF("id", "updated_at", "payload_hash"), srcDir)
    ManifestStore.append(Seq(
      (1L, ts("2024-01-10 11:00:00"), "h1b"), // id 1 advances
      (3L, ts("2024-01-10 11:00:00"), "h3a")).toDF("id", "updated_at", "payload_hash"), srcDir)

    // default trigger + processAllAvailable, NOT Trigger.AvailableNow:
    // with per-trigger caps on a v1 source, the AvailableNow wrapper
    // snapshots the CAPPED first getOffset as "available" and each run
    // drains exactly one capped batch (documented on ManifestSource) —
    // this test wants the multi-batch replay, which the continuous
    // trigger's processAllAvailable drives fully
    @volatile var boom = true
    def runOnce(failMidBatch: Boolean): Option[Throwable] = {
      val q = spark.readStream.format("graft-manifest").schema(schema)
        .option("startingVersion", "earliest")
        .option("maxVersionsPerTrigger", "1")
        .load(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.toDF()
            val hist = ManifestStore.read(b.sparkSession, histDir, schema)
            val delta = Merge.historyDelta(hist, b)
            if (!delta.isEmpty) ManifestStore.append(delta, histDir): Unit
            // the injected crash: history committed, latest NOT — the
            // exact window at-least-once replay must repair
            if (failMidBatch && boom) {
              boom = false
              throw new RuntimeException("injected mid-batch crash")
            }
            val cur = ManifestStore.read(b.sparkSession, latestDir, schema)
            ManifestStore.overwrite(
              Merge.latestUpsert(cur, b, "id", "updated_at"), latestDir): Unit
          }
        }
        .start()
      try { q.processAllAvailable(); None }
      catch { case e: Throwable
          if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
            .exists(t => Option(t.getMessage)
              .exists(_.contains("injected mid-batch crash"))) =>
        Some(e) }
      finally q.stop()
    }

    val failed = runOnce(failMidBatch = true)
    def causeChain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(failed.exists(causeChain(_).exists(t =>
      Option(t.getMessage).exists(_.contains("injected mid-batch crash")))),
      s"the first run must die on the injected crash, got $failed")
    // mid-flight state is visible: batch 0's history landed, latest did not
    val histMid = ManifestStore.read(spark, histDir, schema)
      .as[(Long, java.sql.Timestamp, String)].collect().toSet
    assert(histMid === Set(
      (1L, ts("2024-01-10 10:00:00"), "h1a"),
      (2L, ts("2024-01-10 10:00:00"), "h2a")),
      s"batch 0's history append must be committed before the crash: $histMid")
    assert(ManifestStore.currentSnapshot(spark, latestDir).isEmpty,
      "latest must NOT exist yet — the crash landed between the two writes")

    assert(runOnce(failMidBatch = false).isEmpty, "the restart must drain cleanly")
    // contract 1: history holds every source row exactly once — the
    // replayed batch 0 was absorbed by the idempotent dedup, not doubled
    val allSrc = ManifestStore.read(spark, srcDir, schema)
    val histRows = ManifestStore.read(spark, histDir, schema)
    assert(histRows.count() === 4L, "no duplicates from the replay")
    assert(histRows.as[(Long, java.sql.Timestamp, String)].collect().toSet ===
      allSrc.as[(Long, java.sql.Timestamp, String)].collect().toSet)
    // contract 2: latest equals the batch-mode answer over the full feed
    val expected = Merge.latestUpsert(
      ManifestStore.read(spark, latestDir, schema).limit(0), allSrc,
      "id", "updated_at").as[(Long, java.sql.Timestamp, String)].collect().toSet
    val gotLatest = ManifestStore.read(spark, latestDir, schema)
      .as[(Long, java.sql.Timestamp, String)].collect().toSet
    assert(gotLatest === expected)
    assert(gotLatest.map(_._1) === Set(1L, 2L, 3L))
    assert(gotLatest.contains((1L, ts("2024-01-10 11:00:00"), "h1b")),
      "newer-wins must hold across the crash/replay boundary")
  }
}
