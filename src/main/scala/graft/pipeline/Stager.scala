package graft.pipeline

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Par
import graft.operators.{Merge, Payload, RunLog}
import graft.sources.{Landing, StateStore}

/** The staging run, wired as the reference's `services/staging/app/run.py:28-99`
  * (traced in SURVEY.md §3.2):
  *
  *   run-log start → landing read → payload+hash → history append (idempotent
  *   dedup) → latest upsert (newer-wins) → run-log success; failure → run-log
  *   failed + rethrow.
  *
  * Planned as one pass per entity: the landed batch, with payload and hash,
  * is flagged against history and the latest table
  * ([[graft.operators.Merge.withStageFlags]]) and materialized once;
  * `rowsIn`, the new-history count and the winner count are observed on
  * that checkpoint job itself (`Dataset.observe`), so counting costs no job
  * of its own; the history append writes the `_new_hist` rows and, at the same
  * time, the latest table is rewritten as existing-minus-winners plus
  * winners ([[graft.operators.Merge.applyWinners]], map-only over the
  * table). Each write runs only when its count is non-zero, so a rerun that
  * changes nothing leaves both tables untouched, and the run is logged, as
  * success or failure, only after both writes have ended.
  *
  * Deviations, both recorded in SURVEY.md §8 as reference defects we fix:
  *  - Q-1: payload values are preserved (the reference nulls every
  *    non-timestamp scalar via a missing `return`).
  *  - Q-2: the empty-input branch logs success(0, 0, 0) once and writes
  *    nothing, instead of re-executing the load and double-logging success.
  */
final case class StagerConfig(landingRoot: String, stateRoot: String,
                              pipelineName: String = "wms_pipeline")

final case class StageResult(entity: String, runId: String, rowsIn: Long,
                             rowsInsertedHistory: Long, rowsUpsertedLatest: Long)

class Stager(spark: SparkSession, cfg: StagerConfig) {

  private val runLog = new RunLog(spark, s"${cfg.stateRoot}/pipeline_run_log")

  def historyDir(entity: String): String = s"${cfg.stateRoot}/stg_${entity}_history"
  def latestDir(entity: String): String = s"${cfg.stateRoot}/stg_$entity"

  def history(entity: String, like: DataFrame): DataFrame =
    StateStore.read(spark, historyDir(entity), like.schema)
  def latest(entity: String, like: DataFrame): DataFrame =
    StateStore.read(spark, latestDir(entity), like.schema)

  def run(entity: String, runId: String, now: Instant = Instant.now()): StageResult = {
    runLog.start(runId, cfg.pipelineName, entity, startedAt = now)
    try {
      val records = Payload.withPayloadAndHash(
        Landing.read(spark, cfg.landingRoot, entity, runId))
      val cur = latest(entity, records)
      // O-11 + O-12 in one materialized pass, counted while it is checkpointed
      val staged = Observation(s"staged_$entity")
      val batch = Par.materialize(Merge.withStageFlags(history(entity, records), cur, records)
        .observe(staged, count(lit(1)).as("n"), count_if(col("_new_hist")).as("hist"),
          count_if(col("_wins")).as("wins")))
      val counts = staged.get
      val Seq(rowsIn, nHist, nLatest) = Seq("n", "hist", "wins").map(counts(_).asInstanceOf[Long])
      def rows(flag: String) = batch.filter(col(flag)).drop("_new_hist", "_wins")

      // O-11: append only rows whose (id, updated_at, payload_hash) is new;
      // O-12: newer-wins upsert — only the winning rows touch the latest
      // table. Both read the materialized batch and neither reads what the
      // other writes, so they run at once; both end before the run is logged.
      Par.concurrently(Seq(
        Option.when(nHist > 0)(() => StateStore.append(rows("_new_hist"), historyDir(entity))),
        Option.when(nLatest > 0)(() =>
          StateStore.overwrite(Merge.applyWinners(cur, rows("_wins")), latestDir(entity)))
      ).flatten)

      runLog.finishSuccess(runId, rowsIn, nHist, nLatest, endedAt = now)
      StageResult(entity, runId, rowsIn, nHist, nLatest)
    } catch {
      case e: Throwable =>
        runLog.finishFailed(runId, Option(e.getMessage).getOrElse(e.toString), endedAt = now)
        throw e
    }
  }
}
