package graft

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline._
import graft.sources.PagedFeed

/** End-to-end pipeline runs (SURVEY.md §3.1/§3.2) over local parquet state,
  * plus the paginated-feed client contracts from
  * `tests/unit/extractor/test_extract.py`.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** CDC-shaped source table: id, updated_at, status. */
  private def sourceDf(rows: (String, String, String)*): DataFrame =
    rows.map { case (i, t, st) => (i, ts(t), st) }.toDF("id", "updated_at", "status")

  /** A pipeline over fresh directories; with `counted`, the state tables
    * sit on [[CountingFs]], which counts each table's writes.
    */
  private def mkPipeline(counted: Boolean = false): (ExtractorConfig, Extractor, Stager) = {
    val root = Files.createTempDirectory("pipe").toString
    val state = if (counted) CountingFs.root(spark, s"$root/state") else s"$root/state"
    val cfg = ExtractorConfig(s"$root/landing", state,
      defaultStart = Instant.parse("2024-01-01T00:00:00Z"))
    (cfg, new Extractor(spark, cfg), new Stager(spark, StagerConfig(s"$root/landing", state)))
  }

  private def feedFrom(df: DataFrame): Instant => DataFrame =
    cursor => df.filter(col("updated_at") > lit(java.sql.Timestamp.from(cursor)))

  test("extract → stage end-to-end: history + latest populated, run logged") {
    val (cfg, ex, st) = mkPipeline()
    val src = sourceDf(
      ("a", "2024-02-01 10:00:00", "NEW"),
      ("b", "2024-02-01 11:00:00", "NEW"))
    val r1 = ex.runEntity("ib_receipts", "run1", feedFrom(src))
    assert(r1.rowsIn == 2)
    assert(r1.watermarkNew == Instant.parse("2024-02-01T11:00:00Z"))
    val s1 = st.run("ib_receipts", "run1")
    assert(s1.rowsInsertedHistory == 2 && s1.rowsUpsertedLatest == 2)
    assert(st.latest("ib_receipts", spark.emptyDataFrame).count() == 0 ||
      spark.read.parquet(st.latestDir("ib_receipts")).count() == 2)
  }

  test("incremental second run: only changed rows flow; latest reflects newest state") {
    val (cfg, ex, st) = mkPipeline()
    val v1 = sourceDf(("a", "2024-02-01 10:00:00", "NEW"), ("b", "2024-02-01 11:00:00", "NEW"))
    ex.runEntity("e", "run1", feedFrom(v1))
    st.run("e", "run1")
    // source evolves: a updated, c added; b unchanged
    val v2 = sourceDf(
      ("a", "2024-02-01 12:00:00", "PROCESSING"),
      ("b", "2024-02-01 11:00:00", "NEW"),
      ("c", "2024-02-01 12:30:00", "NEW"))
    val r2 = ex.runEntity("e", "run2", feedFrom(v2))
    // a (updated) + c (new) + b: b's 11:00:00 sits inside the 120 s lookback
    // behind the 11:00:00 watermark, so it is re-read (and deduped at staging).
    assert(r2.rowsIn == 3)
    val s2 = st.run("e", "run2")
    assert(s2.rowsInsertedHistory == 2 && s2.rowsUpsertedLatest == 2)
    val latest = spark.read.parquet(st.latestDir("e"))
    assert(latest.count() == 3)
    assert(latest.filter($"id" === "a").select("status").as[String].head() == "PROCESSING")
    val hist = spark.read.parquet(st.historyDir("e"))
    assert(hist.count() == 4) // a v1, b v1, a v2, c v1
  }

  test("staging rerun of the same run_id is idempotent (at-least-once extract, exactly-once effect)") {
    val (cfg, ex, st) = mkPipeline()
    ex.runEntity("e", "run1", feedFrom(sourceDf(("a", "2024-02-01 10:00:00", "NEW"))))
    val first = st.run("e", "run1")
    assert(first.rowsInsertedHistory == 1)
    val again = st.run("e", "run1")
    assert(again.rowsInsertedHistory == 0) // dedup: nothing new
    assert(again.rowsUpsertedLatest == 0)  // tie on updated_at: existing wins
    assert(spark.read.parquet(st.historyDir("e")).count() == 1)
  }

  test("re-staging a run with no winners and no new history leaves both tables untouched") {
    val (_, ex, st) = mkPipeline()
    ex.runEntity("e", "run1", feedFrom(sourceDf(
      ("a", "2024-02-01 10:00:00", "NEW"), ("b", "2024-02-01 11:00:00", "NEW"))))
    st.run("e", "run1")
    val latest = StateSpec.files(st.latestDir("e"))
    val history = StateSpec.files(st.historyDir("e"))
    val again = st.run("e", "run1")
    assert(again.rowsIn == 2 && again.rowsInsertedHistory == 0 && again.rowsUpsertedLatest == 0)
    assert(StateSpec.files(st.latestDir("e")) == latest, "latest table was rewritten")
    assert(StateSpec.files(st.historyDir("e")) == history, "history table was written")
  }

  test("lookback window re-reads late data; history dedup absorbs the overlap") {
    val (cfg, ex, st) = mkPipeline()
    val v1 = sourceDf(("a", "2024-02-01 10:00:00", "NEW"))
    ex.runEntity("e", "run1", feedFrom(v1))
    st.run("e", "run1")
    // run2 sees the same row again (inside the 120 s lookback) + a late row
    // that arrived with updated_at inside the lookback window.
    val v2 = sourceDf(
      ("a", "2024-02-01 10:00:00", "NEW"),           // replay, deduped at staging
      ("z", "2024-02-01 09:59:30", "NEW"))           // late arrival
    val r2 = ex.runEntity("e", "run2", feedFrom(v2))
    assert(r2.rowsIn == 2)
    val s2 = st.run("e", "run2")
    assert(s2.rowsInsertedHistory == 1) // only the late row is new
    assert(spark.read.parquet(st.latestDir("e")).count() == 2)
  }

  test("extractor refuses duplicate run_id (at-most-once landing per run)") {
    val (cfg, ex, _) = mkPipeline()
    val feed = feedFrom(sourceDf(("a", "2024-02-01 10:00:00", "NEW")))
    ex.runEntity("e", "run1", feed)
    intercept[Exception](ex.runEntity("e", "run1", feed))
  }

  test("empty incremental batch: watermark holds, staging logs success(0) and returns") {
    val (cfg, ex, st) = mkPipeline()
    ex.runEntity("e", "run1", feedFrom(sourceDf(("a", "2024-02-01 10:00:00", "NEW"))))
    st.run("e", "run1")
    val r2 = ex.runEntity("e", "run2", feedFrom(sourceDf())) // nothing changed
    assert(r2.rowsIn == 0)
    assert(r2.watermarkNew == r2.watermarkSaved)
    val s2 = st.run("e", "run2")
    assert(s2 == StageResult("e", "run2", 0, 0, 0))
  }

  test("rowsIn is the landed row count even when the feed changes between pulls") {
    val (cfg, ex, _) = mkPipeline()
    // a live feed: the k-th execution of its plan returns rows 0 until 2k,
    // so any re-execution after the landing write answers differently
    PipelineSpec.pulls.indices.foreach(PipelineSpec.pulls(_).set(0))
    val live = udf((i: Long) => i < 2 * PipelineSpec.pulls(i.toInt).incrementAndGet())
      .asNondeterministic()
    val feed: Instant => DataFrame = _ => spark.range(PipelineSpec.pulls.length)
      .filter(live(col("id")))
      .select(col("id"), lit(ts("2024-02-01 10:00:00")).as("updated_at"),
        lit("NEW").as("status"))
    val r = ex.runEntity("e", "run1", feed)
    val landed = graft.sources.Landing.read(spark, cfg.landingRoot, "e", "run1").count()
    assert(landed > 0 && feed(Instant.EPOCH).count() != landed)
    assert(r.rowsIn == landed)
  }

  test("failed staging run is recorded with status=failed and rethrown") {
    val (cfg, _, st) = mkPipeline()
    intercept[Exception](st.run("e", "missing-run"))
    val row = spark.read.parquet(s"${cfg.stateRoot}/pipeline_run_log")
      .filter($"run_id" === "missing-run").head()
    assert(row.getAs[String]("status") == "failed")
    assert(row.getAs[String]("error") != null)
  }

  /** Every plan in `qes` that writes a directory whose name contains `dir`. */
  private def writesTo(qes: Seq[org.apache.spark.sql.execution.QueryExecution], dir: String) =
    qes.filter(_.analyzed.collect {
      case w: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        w.outputPath.toString
    }.exists(_.contains(dir)))

  test("run: feeds on the caller thread in map order, one watermark write for both entities") {
    val (cfg, ex, _) = mkPipeline(counted = true)
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Thread)]()
    def feed(e: String, df: DataFrame): Instant => DataFrame = cursor => {
      calls.add(e -> Thread.currentThread())
      feedFrom(df)(cursor)
    }
    val feeds = Map(
      "ib_receipts" -> feed("ib_receipts", sourceDf(("a", "2024-02-01 10:00:00", "NEW"))),
      "ob_orders" -> feed("ob_orders", sourceDf(("x", "2024-02-01 11:00:00", "NEW"),
        ("y", "2024-02-01 12:00:00", "NEW"))))
    val (results, qes) = executions(ex.run(feeds, "run1"))
    import scala.jdk.CollectionConverters._
    assert(calls.asScala.toSeq == feeds.keys.toSeq.map(_ -> Thread.currentThread()))
    // the watermark is written on the driver: one swap onto its directory
    // (CountingFs counts it), and no SQL execution
    assert(CountingFs.renamesOnto(s"${cfg.stateRoot}/etl_watermark") == 1)
    assert(writesTo(qes, "etl_watermark").isEmpty)
    assert(results.map(r => r.entity -> r.rowsIn) == Seq("ib_receipts" -> 1L, "ob_orders" -> 2L))
    val wm = spark.read.parquet(s"${cfg.stateRoot}/etl_watermark")
      .select($"entity", $"last_success_time").as[(String, java.sql.Timestamp)].collect().toMap
    assert(wm == Map("ib_receipts" -> ts("2024-02-01 10:00:00"), "ob_orders" -> ts("2024-02-01 12:00:00")))
  }

  test("run over two entities gives what two runEntity calls give") {
    val now = Instant.parse("2024-02-02T00:00:00Z")
    val a = feedFrom(sourceDf(("a", "2024-02-01 10:00:00", "NEW"), ("b", "2024-02-01 11:00:00", "NEW")))
    val b = feedFrom(sourceDf(("x", "2024-02-01 09:00:00", "NEW")))
    val (cfg1, ex1, _) = mkPipeline()
    val (cfg2, ex2, _) = mkPipeline()
    val together = ex1.run(Map("ea" -> a, "eb" -> b), "run1", now)
    val apart = Seq(ex2.runEntity("ea", "run1", a, now), ex2.runEntity("eb", "run1", b, now))
    assert(together == apart)
    def state(cfg: ExtractorConfig): Seq[Row] =
      spark.read.parquet(s"${cfg.stateRoot}/etl_watermark").orderBy("entity").collect().toSeq
    def landed(cfg: ExtractorConfig, e: String): Seq[Row] =
      graft.sources.Landing.read(spark, cfg.landingRoot, e, "run1").orderBy("id").collect().toSeq
    assert(state(cfg1) == state(cfg2))
    Seq("ea", "eb").foreach(e => assert(landed(cfg1, e) == landed(cfg2, e)))
  }

  test("run: a failing entity's watermark holds while the other entity lands and advances") {
    val (cfg, ex, _) = mkPipeline()
    ex.run(Map("good" -> feedFrom(sourceDf(("a", "2024-02-01 10:00:00", "NEW"))),
      "bad" -> feedFrom(sourceDf(("b", "2024-02-01 10:00:00", "NEW")))), "run1")
    val e = intercept[IllegalArgumentException](ex.run(Map(
      "good" -> feedFrom(sourceDf(("a", "2024-02-01 12:00:00", "PROCESSING"))),
      "bad" -> feedFrom(sourceDf((null, "2024-02-01 12:00:00", "NEW")))), "run2"))
    assert(e.getMessage.contains("null required fields"))
    assert(graft.sources.Landing.read(spark, cfg.landingRoot, "good", "run2").count() == 1)
    val wm = spark.read.parquet(s"${cfg.stateRoot}/etl_watermark")
      .select($"entity", $"last_success_time", $"last_success_run_id")
      .as[(String, java.sql.Timestamp, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(wm == Map("good" -> (ts("2024-02-01 12:00:00"), "run2"),
      "bad" -> (ts("2024-02-01 10:00:00"), "run1")))
  }

  test("a failed latest rewrite is logged as failed only after the history append ended") {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    val (cfg, ex, st) = mkPipeline(counted = true)
    ex.runEntity("e", "run1", feedFrom(sourceDf(
      ("a", "2024-02-01 10:00:00", "NEW"), ("b", "2024-02-01 11:00:00", "NEW"))))
    st.run("e", "run1")
    // `status` stored as a long: staging's flag pass reads only id and
    // updated_at of the latest table, its rewrite reads every column and fails
    graft.sources.StateStore.overwrite(
      spark.read.parquet(st.latestDir("e")).withColumn("status", lit(1L)), st.latestDir("e"))
    ex.runEntity("e", "run2", feedFrom(sourceDf(
      ("a", "2024-02-01 12:00:00", "PROCESSING"), ("c", "2024-02-01 12:30:00", "NEW"))))

    // the history append commits 500 ms late, so it ends well after the
    // latest rewrite has failed
    CountingFs.slowRenamesInto(st.historyDir("e"), 500)
    val (_, evs) = events(intercept[Exception](st.run("e", "run2")))

    val row = spark.read.parquet(s"${cfg.stateRoot}/pipeline_run_log")
      .filter($"run_id" === "run2").head()
    assert(row.getAs[String]("status") == "failed")
    assert(spark.read.parquet(st.historyDir("e")).count() == 4)
    // end ms of the SQL executions that append to history
    val history = evs.collect {
      case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains("stg_e_history") =>
        s.executionId
    }.toSet
    assert(history.nonEmpty)
    val historyEnd = evs.collect {
      case s: SparkListenerSQLExecutionEnd if history(s.executionId) => s.time
    }.max
    // the run log is written on the driver, with no SQL execution; its one
    // part file is finishFailed's write, and the swap's rename keeps its mtime
    assert(!evs.exists {
      case s: SparkListenerSQLExecutionStart => s.physicalPlanDescription.contains("pipeline_run_log")
      case _ => false
    })
    val parts = new java.io.File(new org.apache.hadoop.fs.Path(s"${cfg.stateRoot}/pipeline_run_log")
      .toUri.getPath).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1)
    val failedAt = parts.head.lastModified()
    assert(failedAt >= historyEnd, s"failed row written at $failedAt, history append ended at $historyEnd")
  }

  test("a steady-state two-entity tick with winners runs 10 root SQL executions") {
    val (_, ex, st) = mkPipeline()
    val entities = Seq("ib_receipts", "ob_orders")
    def tick(runId: String, t: String): Unit = {
      val feeds = entities.map(e => e -> feedFrom(sourceDf((s"$e-a", t, "NEW"), (s"$e-b", t, "NEW"))))
      ex.run(feeds.toMap, runId)
      entities.foreach { e =>
        val r = st.run(e, runId)
        assert(r.rowsInsertedHistory == 2 && r.rowsUpsertedLatest == 2)
      }
    }
    tick("run1", "2024-02-01 10:00:00") // creates every table
    val (_, evs) = events(tick("run2", "2024-02-01 12:00:00"))
    // per entity: the required-fields check, the landing write, the flag
    // pass's checkpoint, the history append and the latest rewrite; the
    // watermark and run-log writes and the counts take no action
    val roots = rootExecutionsIn(evs)
    assert(roots.size == 10, roots.map(_.description).mkString("\n"))
  }

  test("Landing.read of a parquet run starts no job and takes the schema spark.read.parquet infers") {
    val (cfg, ex, _) = mkPipeline()
    ex.runEntity("e", "run1", feedFrom(sourceDf(
      ("a", "2024-02-01 10:00:00", "NEW"), ("b", "2024-02-01 11:00:00", "NEW"))))
    val (df, evs) = events(graft.sources.Landing.read(spark, cfg.landingRoot, "e", "run1"))
    assert(jobsIn(evs).isEmpty, jobsIn(evs).map(_.jobId))
    val inferred = spark.read.parquet(graft.sources.Landing.runDir(cfg.landingRoot, "e", "run1"))
    assert(df.schema == inferred.schema)
    assert(df.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
  }

  // ---- PagedFeed client (test_extract.py contracts) ----

  private val feedSchema = StructType(Seq(
    StructField("id", StringType), StructField("updated_at", TimestampType)))

  private def mkRow(id: String, t: String) = Row(id, ts(t))

  test("pagination: multi-page concat with offset progression (test_extract.py:25-58)") {
    val all = (1 to 5).map(i => mkRow(s"id$i", f"2024-01-01 00:00:0$i"))
    var offsets = Seq.empty[Long]
    val rows = PagedFeed.fetchAll((_, limit, offset) => {
      offsets :+= offset
      PagedFeed.Page(all.slice(offset.toInt, offset.toInt + limit), all.size)
    }, Instant.EPOCH, limit = 2)
    assert(rows.size == 5)
    assert(offsets == Seq(0L, 2L, 4L)) // short page at 4 stops the loop
  }

  test("empty first page stops immediately (test_extract.py:61-76)") {
    val rows = PagedFeed.fetchAll((_, _, _) => PagedFeed.Page(Nil, 0), Instant.EPOCH)
    assert(rows.isEmpty)
  }

  test("runaway guard aborts at max offset (extract.py:86-87)") {
    val full = (1 to 500).map(i => mkRow(s"x$i", "2024-01-01 00:00:00")).toSeq
    val e = intercept[IllegalStateException](
      PagedFeed.fetchAll((_, _, _) => PagedFeed.Page(full, 1000000), Instant.EPOCH,
        limit = 500, maxOffset = 2000))
    assert(e.getMessage.contains("runaway"))
  }

  test("out-of-order feed raises (O-2, extract.py:17-27)") {
    val bad = Seq(mkRow("b", "2024-01-01 00:00:02"), mkRow("a", "2024-01-01 00:00:01"))
    intercept[IllegalStateException](
      PagedFeed.fetchAll((_, _, _) => PagedFeed.Page(bad, 2), Instant.EPOCH,
        tsIdx = 1, idIdx = 0))
  }

  test("retry: retryable errors retried with backoff, fatal ones not (http_client.py:19-58)") {
    var slept = Seq.empty[Long]
    var calls = 0
    val v = PagedFeed.withRetry(sleeper = ms => slept :+= ms) { () =>
      calls += 1
      if (calls < 3) throw new PagedFeed.RetryableFeedError("503") else 42
    }
    assert(v == 42 && calls == 3 && slept.size == 2)
    assert(slept(1) > slept(0) / 2) // exponential-ish growth with jitter
    intercept[RuntimeException](
      PagedFeed.withRetry(sleeper = _ => ())(() => throw new RuntimeException("fatal")))
  }

  test("retries exhausted → last retryable error surfaces") {
    var calls = 0
    intercept[PagedFeed.RetryableFeedError](
      PagedFeed.withRetry(maxRetries = 3, sleeper = _ => ()) { () =>
        calls += 1; throw new PagedFeed.RetryableFeedError("500")
      })
    assert(calls == 4) // initial + 3 retries
  }
}

object PipelineSpec {
  /** Per-row execution counters of the live-feed fixture. */
  val pulls: Array[java.util.concurrent.atomic.AtomicInteger] =
    Array.fill(20)(new java.util.concurrent.atomic.AtomicInteger)
}
