package graft

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{FeedRegistry, PagedFeed}

/** DataSource V2 feed connector: pushdown, partitioned scan, short name. */
class FeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("updated_at", TimestampType),
    StructField("status", StringType)))

  private def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d")

  /** 2400 rows, ordered by (updated_at, id); records observed cursors. */
  private def mkFeed(name: String): (Seq[Row], AtomicInteger, java.util.Set[String]) = {
    val all = (0 until 2400).map(i => Row(f"id$i%05d", ts(i), "NEW"))
    val calls = new AtomicInteger()
    val cursors = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    FeedRegistry.register(name, schema, (cursor, limit, offset) => {
      calls.incrementAndGet()
      cursors.add(cursor.map(_.toString).getOrElse("none"))
      val filtered = cursor match {
        case Some(c) => all.filter(_.getTimestamp(1).toInstant.isAfter(c))
        case None => all
      }
      PagedFeed.Page(filtered.slice(offset.toInt, offset.toInt + limit), filtered.size)
    })
    (all, calls, cursors)
  }

  test("full scan reads every row via the short name, partitioned by page range") {
    val (_, calls, _) = mkFeed("full")
    val df = spark.read.format("graft-feed")
      .option("feed", "full").option("pagesize", "100").option("pages_per_partition", "2")
      .load()
    assert(df.count() == 2400)
    // 2400 rows / (100×2 per partition) = 12 partitions + 1 planning probe;
    // each partition pulls 2 pages → ≥ 24 fetches. Mostly: parallelism happened.
    assert(df.rdd.getNumPartitions == 12)
    assert(calls.get() >= 25)
  }

  test("updated_at > cursor is pushed into the feed (PushedFilters visible, source sees cursor)") {
    val (_, _, cursors) = mkFeed("pushdown")
    val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:30:00")
    val df = spark.read.format("graft-feed").option("feed", "pushdown").load()
      .filter(col("updated_at") > lit(cutoff))
    val n = df.count()
    assert(n == all600(cutoff)) // strictly greater
    assert(cursors.contains("2024-01-01T00:30:00Z"), s"feed saw cursors: $cursors")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-feed"), plan.take(400))
  }

  private def all600(cutoff: java.sql.Timestamp): Long =
    (0 until 2400).count(i => ts(i).after(cutoff)).toLong

  test("residual filters still apply above the scan (pushdown is an optimization, not a contract)") {
    mkFeed("residual")
    val df = spark.read.format("graft-feed").option("feed", "residual").load()
      .filter(col("status") === "MISSING") // source ignores this predicate
    assert(df.count() == 0)
  }

  test("empty feed plans zero partitions") {
    FeedRegistry.register("empty", schema, (_, _, _) => PagedFeed.Page(Nil, 0))
    val df = spark.read.format("graft-feed").option("feed", "empty").load()
    assert(df.count() == 0)
  }

  test("unregistered feed fails with a clear message") {
    val e = intercept[Exception](
      spark.read.format("graft-feed").option("feed", "nope").load())
    assert(e.getMessage.contains("no registered feed"))
  }

  test("batch scan end bound: a row mutated after planning is read at most once, never in its new version") {
    // after the scan's two planning probes the feed moves one row to its
    // tail with a later updated_at, so every reader fetch sees the moved
    // feed; the probe's end stamp must drop the new version. The second
    // input orders a NULL updated_at row last: the last-page probe still
    // finds the page's max stamp, so the bound holds there too.
    def scan(name: String, nullsLast: Boolean): Array[Row] = {
      val stamped = (0 until 2400).map(i => Row(f"id$i%05d", ts(i), "NEW"))
      var rows = if (nullsLast) stamped :+ Row("null-ts", null, "NEW") else stamped
      val calls = new AtomicInteger()
      val lock = new Object
      FeedRegistry.register(name, schema, (_, limit, offset) => lock.synchronized {
        if (calls.incrementAndGet() == 3) {
          val (Seq(_), rest) = rows.partition(_.getString(0) == "id00010")
          val (nonNull, nulls) = rest.partition(!_.isNullAt(1))
          rows = (nonNull :+ Row("id00010", ts(2500), "MOVED")) ++ nulls
        }
        PagedFeed.Page(rows.slice(offset.toInt, offset.toInt + limit), rows.size)
      })
      val got = spark.read.format("graft-feed").option("feed", name)
        .option("pagesize", "100").option("pages_per_partition", "2").load().collect()
      assert(calls.get() > 3, s"$name: the feed never mutated under the scan")
      got
    }
    Seq("end-bound" -> false, "end-bound-nulls-last" -> true).foreach { case (name, nullsLast) =>
      val got = scan(name, nullsLast)
      val twice = got.groupBy(_.getString(0)).filter(_._2.length > 1).keys
      assert(twice.isEmpty, s"$name: ids read twice: $twice")
      assert(!got.exists(_.getString(2) == "MOVED"), s"$name: the new version passed the end bound")
    }
  }

  test("streaming micro-batch feed: incremental cursor batches, mutation re-delivery") {
    import java.time.Instant
    import scala.collection.mutable.ArrayBuffer
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, updated_at TIMESTAMP, qty INT")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = ArrayBuffer[org.apache.spark.sql.Row]()
    def sorted(cursor: Option[Instant]) = rows.toSeq
      .filter(r => cursor.forall(c => r.getTimestamp(1).toInstant.isAfter(c)))
      .sortBy(r => (r.getTimestamp(1).getTime, r.getString(0)))
    graft.sources.FeedRegistry.register("stream-feed", schema, (cursor, limit, offset) => {
      val f = sorted(cursor)
      graft.sources.PagedFeed.Page(f.slice(offset.toInt, offset.toInt + limit), f.size)
    })
    rows += org.apache.spark.sql.Row("a", t("2024-02-01 10:00:00"), 1)
    rows += org.apache.spark.sql.Row("b", t("2024-02-01 10:01:00"), 2)
    val stream = spark.readStream.format("graft-feed")
      .option("feed", "stream-feed").option("pagesize", 1).load()
    val q = stream.writeStream.format("memory").queryName("feedstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("feedstream").count() === 2)
      // feed advances: c arrives, a MUTATES (updated_at bumps → re-delivered)
      rows += org.apache.spark.sql.Row("c", t("2024-02-01 10:05:00"), 3)
      rows(0) = org.apache.spark.sql.Row("a", t("2024-02-01 10:06:00"), 9)
      q.processAllAvailable()
      val got = spark.table("feedstream")
      assert(got.count() === 4, got.collect().mkString("; "))
      // the mutated row arrived with its new version; dedup downstream is
      // the pipeline's job (O-11/O-12)
      import spark.implicits._
      assert(got.filter($"id" === "a").count() === 2)
      assert(got.filter($"id" === "a" && $"qty" === 9).count() === 1)
      // quiet trigger: no new rows → no duplicate re-delivery
      q.processAllAvailable()
      assert(spark.table("feedstream").count() === 4)
    } finally q.stop()
  }

  test("micro-batch partitions overlap by one page (boundary-shift lookback)") {
    // a row mutating mid-batch shifts every later row one offset down; a row
    // at a partition boundary would slide into the range an earlier partition
    // already consumed and be delivered by neither. Each partition therefore
    // starts one page early; the (start, end] filter + idempotent sinks
    // absorb the double-read of the overlap.
    mkFeed("overlap")
    val stream = new graft.sources.FeedMicroBatchStream(
      graft.sources.RegistryTransport("overlap"), schema, None,
      pageSize = 100, pagesPerPartition = 5)
    val end = stream.latestOffset()
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
      .map(_.asInstanceOf[graft.sources.FeedInputPartition])
    assert(parts.length === 5, parts.mkString("; ")) // 2400 rows / 500 span
    assert(parts.head.firstOffset === 0L)
    parts.sliding(2).foreach { case Array(a, b) =>
      assert(b.firstOffset === a.lastOffsetExclusive - 500 + 400,
        s"partition must start one page before its span: $a -> $b")
      assert(b.firstOffset < a.lastOffsetExclusive, s"no overlap between $a and $b")
    }
    // full coverage: the union of ranges covers [0, total)
    assert(parts.map(_.lastOffsetExclusive).max === 2400L)
    // delivered multiplicity on a STABLE feed: every row at least once, and
    // duplicates are exactly the one-page overlap rows (the bounded
    // at-least-once cost the idempotent sinks absorb) — no row is lost, no
    // row is read more than twice
    val factory = stream.createReaderFactory()
    val delivered = parts.flatMap { p =>
      val r = factory.createReader(p)
      Iterator.continually(r).takeWhile(_.next())
        .map(_.get().getString(0)).toArray
    }
    val counts = delivered.groupBy(identity).view.mapValues(_.length)
    assert(counts.size === 2400, "every feed row must be delivered")
    assert(counts.values.forall(c => c == 1 || c == 2))
    assert(counts.values.count(_ == 2) === 4 * 100, "dups = one page per boundary")
  }

  test("streaming feed: NULL updated_at delivered once in the cold-start batch, never after") {
    // feeds order nulls FIRST (unknown time sorts at the epoch); the
    // streaming reader mirrors the batch pushdown: a null-ts row can't be
    // ordered into any cursor interval, so it rides only the cold batch
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = scala.collection.mutable.ArrayBuffer[Row](
      Row("n", null, "NEW"), Row("a", t("2024-02-01 10:00:00"), "NEW"))
    def sorted(cursor: Option[Instant]) = cursor match {
      case Some(c) => rows.toSeq.filter(r => Option(r.getTimestamp(1))
        .exists(_.toInstant.isAfter(c)))
      case None => rows.toSeq // nulls-first total order preserved
    }
    FeedRegistry.register("null-ts", schema, (cursor, limit, offset) => {
      val f = sorted(cursor)
      PagedFeed.Page(f.slice(offset.toInt, offset.toInt + limit), f.size)
    })
    val stream = spark.readStream.format("graft-feed").option("feed", "null-ts").load()
    val q = stream.writeStream.format("memory").queryName("nullts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("nullts").count() === 2, "cold batch must carry the null-ts row")
      rows += Row("b", t("2024-02-01 10:05:00"), "NEW")
      q.processAllAvailable()
      val got = spark.table("nullts")
      assert(got.count() === 3)
      assert(got.filter(col("id") === "n").count() === 1, "null-ts row re-delivered")
    } finally q.stop()
  }

  test("streaming feed: all-null-ts feed idles without NPE (tail probe yields no offset)") {
    FeedRegistry.register("null-tail", schema, (_, limit, offset) => {
      val f = Seq(Row("n", null, "NEW"))
      PagedFeed.Page(f.slice(offset.toInt, offset.toInt + limit), f.size)
    })
    val s = new graft.sources.FeedMicroBatchStream(
      graft.sources.RegistryTransport("null-tail"), schema, None,
      pageSize = 10, pagesPerPartition = 2)
    val end = s.latestOffset() // the regression: this NPE'd on a null tail row
    assert(end === s.initialOffset(), "no orderable rows → offset must not advance")
    assert(s.planInputPartitions(s.initialOffset(), end).isEmpty)
  }

  test("streaming feed: NULLS-LAST store ordering does not stall the offset probe") {
    // a backing store that orders NULL updated_at LAST pins a null row at
    // the tail; probing only the tail row would never advance the offset
    // (silent permanent stall) — the last-PAGE probe takes the max
    // non-null stamp instead
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row("a", t("2024-02-01 10:00:00"), "NEW"),
      Row("b", t("2024-02-01 10:07:00"), "NEW"),
      Row("n", null, "NEW")) // nulls last
    FeedRegistry.register("nulls-last", schema, (_, limit, offset) =>
      PagedFeed.Page(rows.slice(offset.toInt, offset.toInt + limit), rows.size))
    val s = new graft.sources.FeedMicroBatchStream(
      graft.sources.RegistryTransport("nulls-last"), schema, None,
      pageSize = 10, pagesPerPartition = 2)
    val end = s.latestOffset()
    assert(end === graft.sources.FeedOffset(
      graft.sources.FeedMicroBatchStream.micros(t("2024-02-01 10:07:00").toInstant)),
      s"offset must advance to the max non-null stamp, got $end")
    assert(s.planInputPartitions(s.initialOffset(), end).nonEmpty)
  }

  test("feed source composes with the extractor pipeline operators") {
    mkFeed("compose")
    val raw = spark.read.format("graft-feed").option("feed", "compose").load()
      .filter(col("updated_at") > lit(java.sql.Timestamp.valueOf("2024-01-01 00:35:00")))
    val normalized = graft.operators.Normalize.normalizeRows(raw, "run-x",
      Instant.parse("2024-02-01T00:00:00Z"), Instant.parse("2024-01-01T00:35:00Z"))
    assert(normalized.count() == raw.count())
    assert(normalized.columns.contains("_run_id"))
  }
}
