package graft.pipeline

import java.time.{Duration, Instant}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Success, Try}
import graft.functions.Par
import graft.operators.{Normalize, Watermark}
import graft.sources.Landing

/** The extractor run, wired as the reference's
  * `services/extractor/app/run.py:15-93` (traced in SURVEY.md §3.1):
  *
  *   watermark read → effective cursor (lookback) → incremental fetch →
  *   normalize → landing write → watermark advance.
  *
  * The watermarks are read and written on the driver
  * ([[graft.sources.StateStore.readRows]]), the entities land concurrently
  * and one write advances all their watermarks (see [[Extractor.run]]).
  *
  * Failure semantics preserved: the watermark advances only AFTER the
  * landing write is durable (run.py:63 before run.py:77), and the landing
  * write refuses to overwrite an existing run (at-most-once per run_id).
  * Combined with the lookback window and the staging side's idempotent
  * dedup, the pipeline is at-least-once extract / exactly-once staging
  * effect.
  */
final case class ExtractorConfig(
    landingRoot: String,
    stateRoot: String,
    pipelineName: String = "wms_pipeline",
    defaultStart: Instant = Instant.parse("1970-01-01T00:00:00Z"),
    lookbackSeconds: Long = 120,  // LOOKBACK_SECONDS, config.py:39
    outputFormat: String = "parquet")

final case class ExtractResult(entity: String, runId: String, rowsIn: Long,
                               watermarkSaved: Instant, watermarkNew: Instant)

class Extractor(spark: SparkSession, cfg: ExtractorConfig) {

  private val watermarks = new Watermark(spark, s"${cfg.stateRoot}/etl_watermark")

  /** One entity's incremental pull: [[run]] of that entity alone. `feed`
    * maps an effective cursor to the changed rows (strictly newer than the
    * cursor) — a [[graft.sources.PagedFeed]] pull in live mode, or a cursor
    * filter over a CDC table in batch mode.
    */
  def runEntity(entity: String, runId: String,
                feed: Instant => DataFrame,
                now: Instant = Instant.now()): ExtractResult =
    extract(Seq(entity -> feed), runId, now).head

  /** Entities sharing one run_id and extraction timestamp (run.py:20-25).
    * The feeds are called on the caller thread in the map's order, as a
    * feed closure may keep caller-thread state; the entities are then
    * normalized and landed concurrently ([[graft.functions.Par.concurrently]]),
    * and one watermark write advances every entity whose landing committed.
    *
    * Deviation: in the reference a failing entity stops the loop. Here the
    * entities already landing finish and their watermarks advance, and then
    * the first failure, in map order, is rethrown. Each watermark still
    * advances only after its own landing is durable. A throwing feed stops
    * the run before anything lands.
    */
  def run(entities: Map[String, Instant => DataFrame],
          runId: String = java.util.UUID.randomUUID().toString.replace("-", ""),
          now: Instant = Instant.now()): Seq[ExtractResult] =
    extract(entities.toSeq, runId, now)

  private def extract(entities: Seq[(String, Instant => DataFrame)], runId: String,
                      now: Instant): Seq[ExtractResult] = {
    val pulled = entities.map { case (entity, feed) =>
      val wmSaved = watermarks.get(cfg.pipelineName, entity, cfg.defaultStart)
      // late-data window: re-read `lookback` behind the saved cursor (run.py:27)
      val wmEffective = wmSaved.minus(Duration.ofSeconds(cfg.lookbackSeconds))
      (entity, wmSaved, wmEffective, feed(wmEffective))
    }
    val landed = Par.concurrently(pulled.map { case (entity, wmSaved, wmEffective, raw) =>
      () => Try(land(entity, runId, now, wmSaved, wmEffective, raw))
    })
    val done = landed.collect { case Success(r) => r }
    watermarks.upsertAll(cfg.pipelineName, done.map(r => r.entity -> r.watermarkNew), runId, now)
    landed.map(_.get)
  }

  private def land(entity: String, runId: String, now: Instant, wmSaved: Instant,
                   wmEffective: Instant, raw: DataFrame): ExtractResult = {
    val normalized = Normalize.normalizeRows(raw, runId, now, wmEffective)
    // new watermark = max(updated_at) of the batch, else the saved one
    // (run.py:72-75), and rowsIn, both observed on the landing write itself:
    // they describe exactly the rows that execution wrote, and the feed is
    // never re-run (a live feed would be pulled twice, and its second answer
    // need not match what landed)
    val landed = Observation(s"landed_$entity")
    Landing.write(normalized.observe(landed, max(col("updated_at")).as("wm"),
      count(lit(1)).as("n")), cfg.landingRoot, entity, runId, cfg.outputFormat)
    val stats = landed.get
    val wmNew = Option(stats("wm")).map(_.asInstanceOf[java.sql.Timestamp].toInstant)
      .getOrElse(wmSaved)
    ExtractResult(entity, runId, stats("n").asInstanceOf[Long], wmSaved, wmNew)
  }
}
