package graft.operators

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.sources.{StateStore, TableStore}

/** Pipeline run/audit log (reference O-15;
  * `services/staging/app/pipeline_run_logs_repo.py:7-71`, DDL
  * `sql/init_dw.sql:15-26`).
  *
  * Lifecycle: `start` inserts status='running' with `ON CONFLICT DO NOTHING`
  * (a rerun of the same run_id keeps the original started_at); `success`
  * updates counts and clears error; `failed` records the error truncated to
  * 4000 chars (`pipeline_run_logs_repo.py:70`).
  */
class RunLog(spark: SparkSession, dir: String,
             store: TableStore = StateStore) {

  def table: DataFrame = store.read(spark, dir, Schemas.runLog)

  private def rowDf(runId: String, pipeline: String, entity: String,
                    startedAt: Instant, endedAt: Option[Instant], status: String,
                    rowsIn: Option[Long], rowsHist: Option[Long], rowsLatest: Option[Long],
                    error: Option[String]): DataFrame = {
    val r = Row(runId, pipeline, entity, java.sql.Timestamp.from(startedAt),
      endedAt.map(java.sql.Timestamp.from).orNull, status,
      rowsIn.map(Long.box).orNull, rowsHist.map(Long.box).orNull,
      rowsLatest.map(Long.box).orNull, error.orNull)
    spark.createDataFrame(java.util.Arrays.asList(r), Schemas.runLog)
  }

  /** INSERT ... ON CONFLICT (run_id) DO NOTHING (`pipeline_run_logs_repo.py:7-24`).
    * A run_id that is already logged (the second entity of a run, or a
    * rerun) leaves the table as it is, unwritten.
    */
  def start(runId: String, pipeline: String, entity: String,
            startedAt: Instant = Instant.now()): Unit =
    if (table.filter(col("run_id") === runId).isEmpty)
      store.overwrite(table.unionByName(rowDf(runId, pipeline, entity, startedAt, None,
        "running", None, None, None, None)), dir)

  private def finish(runId: String, update: Row): Unit = {
    val cols = Schemas.runLog.fieldNames
    val updated = table.filter(col("run_id") === runId)
    if (updated.isEmpty) throw new IllegalStateException(s"no run_log row for $runId")
    val merged = table.filter(col("run_id") =!= runId)
      .unionByName(updated.withColumns(Map(
        "ended_at" -> lit(update.get(0)),
        "status" -> lit(update.getString(1)),
        "rows_in" -> lit(update.get(2)),
        "rows_inserted_history" -> lit(update.get(3)),
        "rows_upserted_latest" -> lit(update.get(4)),
        "error" -> lit(update.get(5)))).select(cols.map(col).toIndexedSeq: _*))
    store.overwrite(merged, dir)
  }

  /** UPDATE ... status='success', error=NULL (`pipeline_run_logs_repo.py:26-51`). */
  def finishSuccess(runId: String, rowsIn: Long, rowsHist: Long, rowsLatest: Long,
                    endedAt: Instant = Instant.now()): Unit =
    finish(runId, Row(java.sql.Timestamp.from(endedAt), "success",
      Long.box(rowsIn), Long.box(rowsHist), Long.box(rowsLatest), null))

  /** UPDATE ... status='failed', error truncated to 4000 chars
    * (`pipeline_run_logs_repo.py:53-71`).
    */
  def finishFailed(runId: String, error: String,
                   endedAt: Instant = Instant.now()): Unit =
    finish(runId, Row(java.sql.Timestamp.from(endedAt), "failed",
      null, null, null, error.take(4000)))
}
