package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.operators.Merge
import graft.sources.StateStore

/** Structured Streaming form of the reference's watermark-loop pipeline
  * (SURVEY.md §2 "Streaming" row): the batch extractor's cursor+lookback+
  * dedup+upsert triangle is exactly event-time watermarking, in-stream
  * dedup, and a foreachBatch newer-wins merge.
  *
  *   batch reference concept          → streaming construct
  *   watermark cursor (O-3/O-4)       → engine-managed offsets/commits
  *   LOOKBACK_SECONDS=120 re-read     → withWatermark(ts, "120 seconds")
  *   O-11 idempotent history insert   → dropDuplicatesWithinWatermark
  *   O-12 newer-wins latest upsert    → foreachBatch Merge.latestUpsert
  *
  * Scale notes: dedup state is partitioned by key and pruned by the
  * watermark; the foreachBatch merge only shuffles each micro-batch (small)
  * against the latest table's matching keys. On a real deployment the
  * overwrite store becomes a MERGE-capable table format.
  */
object StreamingPipeline {

  /** CDC upsert stream → continuously maintained latest-state table. */
  def latestStateSink(stream: DataFrame, latestDir: String, checkpointDir: String,
                      key: String = "id", versionCol: String = "updated_at",
                      lateness: String = "120 seconds"): StreamingQuery = {
    val deduped = stream
      .withWatermark(versionCol, lateness)
      .dropDuplicatesWithinWatermark(key, versionCol)
    deduped.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val plain = batch.toDF()
          val cur = StateStore.read(plain.sparkSession, latestDir, plain.schema)
          StateStore.overwrite(Merge.latestUpsert(cur, plain, key, versionCol), latestDir)
        }
      }
      .start()
  }

  /** Tumbling-window event counts with late-data handling — the standard
    * watermarked windowed aggregation over a change feed.
    */
  def windowedCounts(stream: DataFrame, tsCol: String, windowLen: String,
                     lateness: String = "120 seconds"): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("status"), col("n"))

  /** Gap-based streaming sessionization — the incremental counterpart of
    * [[graft.operators.Sessionize]]: Spark's native `session_window` merges
    * events into per-key sessions that close once no event arrives within
    * `gap`, emitting each session exactly once when the watermark passes its
    * end. Same gap rule as the batch form except the exact boundary: an
    * event precisely `gap` after its predecessor stays in-session in the
    * batch operator (strict `>` split) but opens a new session here
    * (`session_window`'s half-open extent). The trade is session *numbering*
    * (a per-key ordinal needs total history) for bounded state — at 100 TB
    * of events/day, that is the right trade, and the batch operator remains
    * the backfill/repair path over landed history.
    */
  def sessionized(stream: DataFrame, keys: Seq[String], tsCol: String,
                  gap: String, lateness: String = "120 seconds"): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(keys.map(col) ++ Seq(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")): _*)

  /** Per-key status-transition log via arbitrary stateful processing
    * (`mapGroupsWithState`): remembers each key's last seen status and emits
    * one row per observed transition — the streaming view of the M-5 state
    * machines.
    */
  final case class StatusEvent(id: String, status: String, updatedAt: java.sql.Timestamp)
  final case class Transition(id: String, from: String, to: String,
                              at: java.sql.Timestamp)

  /** The transition fold both stateful forms share: `rows` in event-time
    * order, one [[Transition]] per status change from the carried status
    * `last`; returns the transitions and the status to carry forward.
    */
  private def foldTransitions(id: String, rows: Iterator[StatusEvent],
                              last: Option[String]): (Seq[Transition], Option[String]) = {
    var prev = last
    val out = rows.toSeq.sortBy(_.updatedAt.getTime).flatMap { e =>
      val t = prev.filter(_ != e.status).map(p => Transition(id, p, e.status, e.updatedAt))
      prev = Some(e.status)
      t
    }
    (out, prev)
  }

  /** The same transition log on the `transformWithState` API (Spark 4's
    * successor to `mapGroupsWithState`), with the property that matters at
    * scale: per-key state carries a TTL, so an unbounded key space (every
    * user/entity ever seen) cannot grow state forever — idle keys expire
    * and a late revisit simply restarts its transition chain. Requires the
    * RocksDB state store provider.
    */
  private class TransitionProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, StatusEvent, Transition] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[String] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState("last", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig(ttl))

    override def handleInputRows(id: String, rows: Iterator[StatusEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Transition] = {
      val (out, prev) =
        foldTransitions(id, rows, if (last.exists()) Option(last.get()) else None)
      prev.foreach(last.update)
      out.iterator
    }
  }

  def statusTransitionsTWS(events: Dataset[StatusEvent],
                           stateTtl: java.time.Duration): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id)
      .transformWithState(new TransitionProcessor(stateTtl),
        // TTL is clocked by processing time — the only TimeMode that can
        // expire state without event-time watermarks
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[Transition]])
  }

  def statusTransitions(events: Dataset[StatusEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: String, rows: Iterator[StatusEvent], state: GroupState[String]) =>
          val (out, last) = foldTransitions(id, rows, state.getOption)
          state.update(last.getOrElse(""))
          out.iterator
      }
  }
}
