package graft.pipeline

import java.time.{Duration, Instant}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Normalize, Watermark}
import graft.sources.Landing

/** The extractor run, wired exactly as the reference's
  * `services/extractor/app/run.py:15-93` (traced in SURVEY.md §3.1):
  *
  *   watermark read → effective cursor (lookback) → incremental fetch →
  *   normalize → landing write → watermark advance.
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

  /** One entity's incremental pull. `feed` maps an effective cursor to the
    * changed rows (strictly newer than the cursor) — a [[graft.sources.PagedFeed]]
    * pull in live mode, or a cursor filter over a CDC table in batch mode.
    */
  def runEntity(entity: String, runId: String,
                feed: Instant => DataFrame,
                now: Instant = Instant.now()): ExtractResult = {
    val wmSaved = watermarks.get(cfg.pipelineName, entity, cfg.defaultStart)
    // late-data window: re-read `lookback` behind the saved cursor (run.py:27)
    val wmEffective = wmSaved.minus(Duration.ofSeconds(cfg.lookbackSeconds))
    val raw = feed(wmEffective)
    val normalized = Normalize.normalizeRows(raw, runId, now, wmEffective)
    // new watermark = max(updated_at) of the batch, else the saved one
    // (run.py:72-75), and rowsIn, both observed on the landing write itself:
    // they describe exactly the rows that execution wrote, and the feed is
    // never re-run (a live feed would be pulled twice, and its second answer
    // need not match what landed)
    val landed = Observation("landed")
    Landing.write(normalized.observe(landed, max(col("updated_at")).as("wm"),
      count(lit(1)).as("n")), cfg.landingRoot, entity, runId, cfg.outputFormat)
    val stats = landed.get
    val wmNew = Option(stats("wm")).map(_.asInstanceOf[java.sql.Timestamp].toInstant)
      .getOrElse(wmSaved)
    watermarks.upsert(cfg.pipelineName, entity, wmNew, runId, now)
    ExtractResult(entity, runId, stats("n").asInstanceOf[Long], wmSaved, wmNew)
  }

  /** Serial loop over entities sharing one run_id and extraction timestamp
    * (run.py:20-25).
    */
  def run(entities: Map[String, Instant => DataFrame],
          runId: String = java.util.UUID.randomUUID().toString.replace("-", ""),
          now: Instant = Instant.now()): Seq[ExtractResult] =
    entities.toSeq.map { case (entity, feed) => runEntity(entity, runId, feed, now) }
}
