package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.model.Schemas
import graft.operators.{RunLog, Watermark}
import graft.sources.StateStore

/** Mirrors `tests/integration/extractor/test_watermark_repo.py` and the
  * run-log lifecycle of `pipeline_run_logs_repo.py`, with parquet state dirs
  * standing in for Postgres.
  */
class StateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("state").toString

  private val t0 = Instant.parse("2024-01-01T00:00:00Z")
  private val t1 = Instant.parse("2024-01-02T00:00:00Z")
  private val t2 = Instant.parse("2024-01-03T00:00:00Z")

  test("watermark default when empty (test_watermark_repo.py:14-21)") {
    val wm = new Watermark(spark, tmpDir("wm"))
    assert(wm.get("p", "e", defaultStart = t0) == t0)
  }

  test("watermark first insert then read-back (test_watermark_repo.py:24-45,68-77)") {
    val wm = new Watermark(spark, tmpDir("wm"))
    wm.upsert("p", "e", t1, "run-1", now = t1)
    assert(wm.get("p", "e", defaultStart = t0) == t1)
  }

  test("greatest() keeps newer time but stale run overwrites run_id (test_watermark_repo.py:48-65, Q-4)") {
    val wm = new Watermark(spark, tmpDir("wm"))
    wm.upsert("p", "e", t2, "run-new", now = t1)
    wm.upsert("p", "e", t1, "run-stale", now = t2) // older watermark, later run
    assert(wm.get("p", "e", defaultStart = t0) == t2) // time did NOT regress
    val row = wm.table.filter($"pipeline_name" === "p").head()
    assert(row.getAs[String]("last_success_run_id") == "run-stale") // run_id DID
  }

  test("watermark rows are per (pipeline, entity)") {
    val wm = new Watermark(spark, tmpDir("wm"))
    wm.upsert("p", "e1", t1, "r1", now = t1)
    wm.upsert("p", "e2", t2, "r2", now = t1)
    assert(wm.get("p", "e1", t0) == t1)
    assert(wm.get("p", "e2", t0) == t2)
    assert(wm.table.count() == 2)
  }

  test("a reader racing the directory swap sees data, never a phantom-empty table") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("swap-race")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.sources.StateStore.overwrite(df, dir)
    // simulate the mid-swap gap: dir renamed out (as overwrite does), a
    // writer thread completing the swap 150 ms later. Without the
    // in-flight-swap retry, read() returns an EMPTY table in the gap — for
    // a watermark that is a silent cursor reset and a full re-extract.
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + ".old-racetest")
    assert(fs.rename(path, old))
    val writer = new Thread(() => { Thread.sleep(150); fs.rename(old, path): Unit })
    writer.start()
    val got = graft.sources.StateStore.read(spark, dir, df.schema)
    writer.join()
    assert(got.count() === 2, "reader hit the swap gap and saw a phantom-empty table")
  }

  test("run log lifecycle: running → success with counts (test_staging_repo.py:77-86)") {
    val rl = new RunLog(spark, tmpDir("rl"))
    rl.start("r1", "pipe", "e", startedAt = t0)
    assert(rl.table.filter($"run_id" === "r1").head().getAs[String]("status") == "running")
    rl.finishSuccess("r1", rowsIn = 10, rowsHist = 8, rowsLatest = 5, endedAt = t1)
    val row = rl.table.filter($"run_id" === "r1").head()
    assert(row.getAs[String]("status") == "success")
    assert(row.getAs[Long]("rows_inserted_history") == 8)
    assert(row.getAs[String]("error") == null)
  }

  test("run log start is ON CONFLICT DO NOTHING (pipeline_run_logs_repo.py:7-24)") {
    val dir = tmpDir("rl")
    val rl = new RunLog(spark, dir)
    rl.start("r1", "pipe", "e", startedAt = t0)
    val before = StateSpec.files(dir)
    rl.start("r1", "pipe", "e", startedAt = t2) // rerun keeps original started_at
    val rows = rl.table.filter($"run_id" === "r1").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[java.sql.Timestamp]("started_at").toInstant == t0)
    // DO NOTHING writes nothing: the table directory is not rewritten
    assert(StateSpec.files(dir) == before)
  }

  test("run log failure truncates error to 4000 chars (pipeline_run_logs_repo.py:70)") {
    val rl = new RunLog(spark, tmpDir("rl"))
    rl.start("r1", "pipe", "e", startedAt = t0)
    rl.finishFailed("r1", "x" * 5000, endedAt = t1)
    val row = rl.table.filter($"run_id" === "r1").head()
    assert(row.getAs[String]("status") == "failed")
    assert(row.getAs[String]("error").length == 4000)
  }

  test("finishing one run leaves every other run's row as it was") {
    val rl = new RunLog(spark, tmpDir("rl"))
    rl.start("r1", "pipe", "e1", startedAt = t0)
    rl.finishSuccess("r1", rowsIn = 10, rowsHist = 8, rowsLatest = 5, endedAt = t1)
    val r1 = rl.table.filter($"run_id" === "r1").collect()
    rl.start("r2", "pipe", "e2", startedAt = t1)
    rl.finishFailed("r2", "boom", endedAt = t2)
    assert(rl.table.filter($"run_id" === "r1").collect().toSeq == r1.toSeq)
    assert(r1.head.getAs[String]("status") == "success")
    assert(r1.head.getAs[Long]("rows_in") == 10 && r1.head.getAs[Long]("rows_upserted_latest") == 5)
    assert(r1.head.getAs[java.sql.Timestamp]("started_at").toInstant == t0)
    val r2 = rl.table.filter($"run_id" === "r2").head()
    assert(r2.getAs[String]("status") == "failed" && r2.getAs[String]("error") == "boom")
    assert(r2.getAs[java.sql.Timestamp]("started_at").toInstant == t1)
  }

  test("finishing a run that was never started throws") {
    val rl = new RunLog(spark, tmpDir("rl"))
    rl.start("r1", "pipe", "e", startedAt = t0)
    intercept[IllegalStateException] {
      rl.finishSuccess("never", rowsIn = 1, rowsHist = 1, rowsLatest = 1, endedAt = t1)
    }
  }

  test("held rows are never stale: a second Watermark on the same directory sees every write") {
    val dir = tmpDir("wm")
    val (a, b) = (new Watermark(spark, dir), new Watermark(spark, dir))
    a.upsert("p", "e1", t1, "r1", now = t1)
    assert(b.get("p", "e1", t0) == t1)
    b.upsert("p", "e1", t2, "r2", now = t2)
    assert(a.get("p", "e1", t0) == t2) // a's held rows are the ones before b's write
    a.upsert("p", "e2", t1, "r3", now = t2) // merges over b's row, does not drop it
    assert(b.get("p", "e1", t0) == t2 && b.get("p", "e2", t0) == t1)
    assert(a.table.count() == 2)
  }

  test("held rows are never stale: a RunLog sees a direct StateStore.overwrite of its table") {
    val dir = tmpDir("rl")
    val rl = new RunLog(spark, dir)
    rl.start("r1", "pipe", "e", startedAt = t0)
    val other = rl.table.collect().toSeq.map(r => Row.fromSeq("r2" +: r.toSeq.tail))
    graft.sources.StateStore.overwrite(
      spark.createDataFrame(java.util.Arrays.asList(other: _*), graft.model.Schemas.runLog), dir)
    // the table now holds r2 only: r1 cannot be finished, and r2 can
    intercept[IllegalStateException](rl.finishSuccess("r1", 1, 1, 1, endedAt = t1))
    rl.finishSuccess("r2", rowsIn = 3, rowsHist = 2, rowsLatest = 1, endedAt = t1)
    assert(rl.table.select($"run_id", $"status").as[(String, String)].collect().toSeq ==
      Seq("r2" -> "success"))
  }

  test("a read after the instance's own write runs no Spark action") {
    val wmDir = tmpDir("wm")
    val wm = new Watermark(spark, wmDir)
    wm.upsert("p", "e", t1.plusNanos(123456789), "run-1", now = t1)
    val (got, wmReads) = executions(wm.get("p", "e", defaultStart = t0))
    assert(wmReads.isEmpty, wmReads.map(_.analyzed.nodeName))
    // the held rows are what the table reads back: microseconds, not nanos
    assert(got == t1.plusNanos(123456000) && got == new Watermark(spark, wmDir).get("p", "e", t0))
    val dir = tmpDir("rl")
    val rl = new RunLog(spark, dir)
    rl.start("r1", "pipe", "e", startedAt = t0)
    val before = StateSpec.files(dir)
    val (_, rlReads) = executions(rl.start("r1", "pipe", "e", startedAt = t2))
    assert(rlReads.isEmpty, rlReads.map(_.analyzed.nodeName))
    assert(StateSpec.files(dir) == before)
  }

  test("a control-table write runs on the driver: no Spark job") {
    val dir = tmpDir("small")
    object small { def overwrite(rows: Seq[Row]): Unit = StateStore.overwriteRows(spark, dir, Schemas.watermark, rows) }
    def row(run: String) = Row("p", "e", Timestamp.from(t1), run, Timestamp.from(t2))
    small.overwrite(Seq(row("r1")))
    val (_, evs) = events(small.overwrite(Seq(row("r2")))) // swaps out the first write
    assert(jobsIn(evs).isEmpty, jobsIn(evs).map(_.jobId))
    assert(spark.read.parquet(dir).collect().toSeq == Seq(row("r2")))
  }

  test("a fresh Watermark or RunLog reads an existing table with no Spark job") {
    val (wmDir, rlDir) = (tmpDir("wm"), tmpDir("rl"))
    new Watermark(spark, wmDir).upsert("p", "e", t1, "r1", now = t1)
    new RunLog(spark, rlDir).start("r1", "pipe", "e", startedAt = t0)
    val (got, evs) = events {
      val wm = new Watermark(spark, wmDir).get("p", "e", defaultStart = t0)
      new RunLog(spark, rlDir).finishSuccess("r1", rowsIn = 1, rowsHist = 1, rowsLatest = 1, endedAt = t2)
      wm
    }
    assert(jobsIn(evs).isEmpty, jobsIn(evs).map(_.jobId))
    assert(got == t1)
    assert(new RunLog(spark, rlDir).table.select($"status").as[String].collect().toSeq == Seq("success"))
  }

  test("readRows reads a Spark-written (INT96) and a driver-written table as StateStore.read does") {
    val t = Timestamp.from(Instant.parse("2024-01-02T03:04:05.123456Z"))
    val rows = Seq(
      Row("r1", "pipe", "e1", t, null, "running", null, null, null, null),
      Row("r2", null, "e2", t, Timestamp.from(t2.plusNanos(654321000)), "success", 3L, 2L, 1L, null),
      Row("r3", "pipe", null, null, t, "failed", null, null, null, "boom"))
    val (sparkDir, driverDir) = (tmpDir("rl"), tmpDir("rl"))
    StateStore.overwrite(spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.runLog), sparkDir)
    StateStore.overwriteRows(spark, driverDir, Schemas.runLog, rows)
    val int96 = new java.io.File(sparkDir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration))
      val stored = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      stored.getType(stored.getFieldIndex("started_at")).asPrimitiveType.getPrimitiveTypeName
    }
    assert(int96.toSet == Set(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96))
    Seq(sparkDir, driverDir).foreach { dir =>
      val got = StateStore.readRows(spark, dir, Schemas.runLog)
      assert(got.sortBy(_.getString(0)) ==
        StateStore.read(spark, dir, Schemas.runLog).collect().toSeq.sortBy(_.getString(0)), dir)
      assert(got.sortBy(_.getString(0)) == rows, dir)
    }
    assert(StateStore.readRows(spark, tmpDir("absent"), Schemas.runLog) == Nil)
  }

  test("a failed overwrite leaves no tmp directory behind") {
    val dir = tmpDir("fail")
    val boom = spark.range(0, 4, 1, 1).select(
      when($"id" === 2, raise_error(lit("boom"))).otherwise($"id").as("id"))
    intercept[Exception](StateStore.overwrite(boom, dir))
    val parent = new java.io.File(dir).getParentFile
    assert(parent.list().filter(_.contains(".tmp-")).isEmpty, parent.list().toSeq)
  }

  test("a plain parquet read of the driver-written control tables gives their types, microseconds kept") {
    val t = Instant.parse("2024-01-02T03:04:05.123456Z")
    val (wmDir, rlDir) = (tmpDir("wm"), tmpDir("rl"))
    new Watermark(spark, wmDir).upsert("p", "e", t, "r1", now = t.plusSeconds(1))
    val rl = new RunLog(spark, rlDir)
    rl.start("r1", "pipe", "e", startedAt = t)
    rl.finishSuccess("r1", rowsIn = 3, rowsHist = 2, rowsLatest = 1, endedAt = t.plusSeconds(2))
    def types(schema: StructType) = schema.map(f => f.name -> f.dataType)
    val micros = LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
    Seq(wmDir -> Schemas.watermark, rlDir -> Schemas.runLog).foreach { case (dir, schema) =>
      assert(types(spark.read.parquet(dir).schema) == types(schema))
      // stored as TIMESTAMP(MICROS, UTC-adjusted), one file per table
      val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(parts.head.toURI), spark.sparkContext.hadoopConfiguration))
      val stored = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      schema.filter(_.dataType == TimestampType).foreach(f =>
        assert(stored.getType(stored.getFieldIndex(f.name)).getLogicalTypeAnnotation == micros, f.name))
    }
    val wm = spark.read.parquet(wmDir).head()
    assert(wm.getAs[Timestamp]("last_success_time").toInstant == t)
    assert(wm.getAs[Timestamp]("updated_at").toInstant == t.plusSeconds(1))
    val run = spark.read.parquet(rlDir).head()
    assert(run.getAs[Timestamp]("started_at").toInstant == t)
    assert(run.getAs[Timestamp]("ended_at").toInstant == t.plusSeconds(2))
    assert(Seq("rows_in", "rows_inserted_history", "rows_upserted_latest").map(run.getAs[Long]) ==
      Seq(3L, 2L, 1L))
  }

  test("Q-8: a run's one row keeps the first-staged entity and the last-staged entity's counts") {
    // both entities of a run share its run_id, the run log's key
    // (pipeline_run_log(run_id PK) in the reference)
    val rl = new RunLog(spark, tmpDir("rl"))
    rl.start("r1", "pipe", "ib_receipts", startedAt = t0)
    rl.finishSuccess("r1", rowsIn = 10, rowsHist = 8, rowsLatest = 5, endedAt = t1)
    rl.start("r1", "pipe", "ob_orders", startedAt = t1)
    rl.finishSuccess("r1", rowsIn = 3, rowsHist = 2, rowsLatest = 1, endedAt = t2)
    val rows = rl.table.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("entity") == "ib_receipts")
    assert(r.getAs[Timestamp]("started_at").toInstant == t0)
    assert(r.getAs[Timestamp]("ended_at").toInstant == t2)
    assert(Seq("rows_in", "rows_inserted_history", "rows_upserted_latest").map(r.getAs[Long]) ==
      Seq(3L, 2L, 1L))
  }
}

object StateSpec {
  /** Name and modification time of every file under `dir`: a rewrite
    * (a new directory swapped in, or new part files) changes it.
    */
  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally walk.close()
  }
}
