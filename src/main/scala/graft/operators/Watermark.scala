package graft.operators

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.model.Schemas
import graft.sources.StateStore

/** Watermark control table (reference O-3/O-4;
  * `services/extractor/app/watermark_repo.py:18-64`, DDL `sql/init_dw.sql:2-9`).
  *
  * Semantics preserved exactly:
  *  - get: `last_success_time` for `(pipeline, entity)`, else the configured
  *    default epoch (`watermark_repo.py:38`).
  *  - upsert: `last_success_time = greatest(old, new)` — the watermark never
  *    moves backwards — but `last_success_run_id` is ALWAYS overwritten, even
  *    by a stale run. That quirk is asserted by the reference's own tests
  *    (`tests/integration/extractor/test_watermark_repo.py:48-65`), i.e. it is
  *    spec, so we replicate it (SURVEY.md §8 Q-4).
  */
class Watermark(spark: SparkSession, dir: String) {

  def table: DataFrame = StateStore.read(spark, dir, Schemas.watermark)

  /** O-3 — read the saved watermark, falling back to `defaultStart`. */
  def get(pipeline: String, entity: String, defaultStart: Instant): Instant =
    stored.find(r => r.getString(0) == pipeline && r.getString(1) == entity)
      .flatMap(r => Option(r.getTimestamp(2))).map(_.toInstant)
      .getOrElse(defaultStart)

  /** O-4 — monotonic max-merge upsert of the watermark row. */
  def upsert(pipeline: String, entity: String, newWm: Instant, runId: String,
             now: Instant = Instant.now()): Unit =
    upsertAll(pipeline, Seq(entity -> newWm), runId, now)

  /** [[upsert]] of several entities' watermarks in one write. The control
    * table is tiny, so its rows are read, merged and written back on the
    * driver, with no Spark job.
    */
  def upsertAll(pipeline: String, advances: Seq[(String, Instant)], runId: String,
                now: Instant = Instant.now()): Unit = if (advances.nonEmpty) {
    val rows = stored
    val merged = advances.map { case (entity, newWm) =>
      val old = rows.find(r => r.getString(0) == pipeline && r.getString(1) == entity)
      // greatest(): the time never regresses (watermark_repo.py:53); compared
      // as Timestamps, which keep the microseconds
      val time = (old.flatMap(r => Option(r.getTimestamp(2))) ++ Some(java.sql.Timestamp.from(newWm)))
        .reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
      // ...but run_id/updated_at always take the newest write (Q-4).
      Row(pipeline, entity, time, runId, java.sql.Timestamp.from(now))
    }
    val written = merged.map(r => (r.getString(0), r.getString(1))).toSet
    StateStore.overwriteRows(spark, dir, Schemas.watermark,
      rows.filterNot(r => written((r.getString(0), r.getString(1)))) ++ merged)
  }

  private def stored: Seq[Row] = StateStore.readRows(spark, dir, Schemas.watermark)
}
