package graft.operators

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.model.Schemas
import graft.sources.StateStore

/** Pipeline run/audit log (reference O-15;
  * `services/staging/app/pipeline_run_logs_repo.py:7-71`, DDL
  * `sql/init_dw.sql:15-26`).
  *
  * Lifecycle: `start` inserts status='running' with `ON CONFLICT DO NOTHING`
  * (a rerun of the same run_id keeps the original started_at); `success`
  * updates counts and clears error; `failed` records the error truncated to
  * 4000 chars (`pipeline_run_logs_repo.py:70`).
  *
  * The table is tiny, so, as in [[Watermark.upsert]], each call reads its
  * rows on the driver ([[StateStore.readRows]]), merges them there and
  * writes them back as one parquet file ([[StateStore.overwriteRows]]),
  * with no Spark job.
  *
  * One row per run_id, the reference's key (`pipeline_run_log(run_id PK)`),
  * while the entities of one run share its run_id (SURVEY.md §8 Q-8): the
  * row keeps the `entity` and `started_at` of the first entity staged
  * under the run, and its `ended_at`, status, counts and error are the
  * last-staged entity's, since each `finish*` replaces them.
  */
class RunLog(spark: SparkSession, dir: String) {

  def table: DataFrame = StateStore.read(spark, dir, Schemas.runLog)

  /** INSERT ... ON CONFLICT (run_id) DO NOTHING (`pipeline_run_logs_repo.py:7-24`).
    * A run_id that is already logged (the second entity of a run, or a
    * rerun) leaves the table as it is, unwritten.
    */
  def start(runId: String, pipeline: String, entity: String,
            startedAt: Instant = Instant.now()): Unit = {
    val rows = stored
    if (!rows.exists(_.getString(0) == runId))
      StateStore.overwriteRows(spark, dir, Schemas.runLog, rows :+ Row(runId, pipeline, entity,
        java.sql.Timestamp.from(startedAt), null, "running", null, null, null, null))
  }

  /** Replaces the columns after `started_at` of `runId`'s row with `update`
    * (ended_at, status, the three counts, error).
    */
  private def finish(runId: String, update: Seq[Any]): Unit = {
    val rows = stored
    if (!rows.exists(_.getString(0) == runId))
      throw new IllegalStateException(s"no run_log row for $runId")
    StateStore.overwriteRows(spark, dir, Schemas.runLog,
      rows.map(r => if (r.getString(0) == runId) Row.fromSeq(r.toSeq.take(4) ++ update) else r))
  }

  private def stored: Seq[Row] = StateStore.readRows(spark, dir, Schemas.runLog)

  /** UPDATE ... status='success', error=NULL (`pipeline_run_logs_repo.py:26-51`). */
  def finishSuccess(runId: String, rowsIn: Long, rowsHist: Long, rowsLatest: Long,
                    endedAt: Instant = Instant.now()): Unit =
    finish(runId, Seq(java.sql.Timestamp.from(endedAt), "success",
      rowsIn, rowsHist, rowsLatest, null))

  /** UPDATE ... status='failed', error truncated to 4000 chars
    * (`pipeline_run_logs_repo.py:53-71`).
    */
  def finishFailed(runId: String, error: String,
                   endedAt: Instant = Instant.now()): Unit =
    finish(runId, Seq(java.sql.Timestamp.from(endedAt), "failed",
      null, null, null, error.take(4000)))
}
