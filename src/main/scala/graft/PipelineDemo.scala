package graft

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.StateMachine
import graft.pipeline._

/** Runnable end-to-end demo of the WMS pipeline rebuild: a simulated CDC
  * source ticks forward; each tick is extracted (watermark + lookback +
  * normalize + landing) and staged (payload/hash + history dedup + latest
  * upsert + run log). Prints the observable state after each cycle.
  *
  * `runMain graft.PipelineDemo [workDir]`
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0)
      else Files.createTempDirectory("graft-demo").toString
    val spark = GraftSession.local()
    import spark.implicits._

    // source system: 60 inbound receipts, all NEW
    var source: DataFrame = (1 to 60)
      .map(i => (f"rcpt-$i%03d", "NEW", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "seed"))
      .toDF("id", "status", "updated_at", "updated_by")

    val ex = new Extractor(spark, ExtractorConfig(s"$root/landing", s"$root/state",
      defaultStart = Instant.parse("2023-12-31T00:00:00Z")))
    val st = new Stager(spark, StagerConfig(s"$root/landing", s"$root/state"))

    (1 to 3).foreach { tick =>
      val tickTime = java.sql.Timestamp.valueOf(s"2024-01-0${tick + 1} 00:00:00")
      source = Simulator.tick(source, StateMachine.ibChain, tick, lit(tickTime))
        .localCheckpoint()
      val runId = f"run-$tick%02d"
      val feed = (cursor: Instant) =>
        source.filter(col("updated_at") > lit(java.sql.Timestamp.from(cursor)))
      val er = ex.runEntity("ib_receipts", runId, feed,
        now = tickTime.toInstant.plusSeconds(60))
      val sr = st.run("ib_receipts", runId)
      println(s"[demo] tick $tick: extracted=${er.rowsIn} wm=${er.watermarkNew} " +
        s"hist+=${sr.rowsInsertedHistory} latest~=${sr.rowsUpsertedLatest}")
    }

    val latest = spark.read.parquet(st.latestDir("ib_receipts"))
    val hist = spark.read.parquet(st.historyDir("ib_receipts"))
    val runs = spark.read.parquet(s"$root/state/pipeline_run_log")
    println("[demo] latest-state status counts: " +
      latest.groupBy("status").count().orderBy("status")
        .as[(String, Long)].collect().toSeq.mkString(", "))
    println(s"[demo] history rows=${hist.count()} latest rows=${latest.count()} " +
      s"runs=${runs.filter(col("status") === "success").count()} succeeded")
    println("[demo] run log: " + runs.orderBy("run_id")
      .select("run_id", "status", "rows_in", "rows_inserted_history")
      .collect().mkString(" | "))
    println(s"[demo] state at $root")
    spark.stop()
  }
}
