package graft.sources

import java.time.Instant

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** Streaming offset = the change-feed cursor itself: µs since epoch of the
  * last `updated_at` this stream has fully consumed. A micro-batch is the
  * half-open cursor interval `(start, end]` — exactly the reference's
  * watermark loop (`services/extractor/app/run.py:27-75`) with the engine's
  * checkpointed offset in place of the hand-rolled watermark table.
  */
case class FeedOffset(micros: Long) extends Offset {
  override def json(): String = micros.toString
}

/** Micro-batch source over the paginated change feed.
  *
  * A micro-batch is a bounded interval of the feed [[FeedScan]] reads in
  * batch: the same [[FeedTransport]], envelope probe, page-range planner
  * and partition reader ([[FeedReaderFactory]]).
  *  - `latestOffset` probes the feed for the max `updated_at` past the
  *    current cursor (one envelope call + one last-page call) — the
  *    driver-side planning cost per trigger is two page fetches, constant
  *    in corpus size.
  *  - `planInputPartitions(start, end)` plans page ranges against the
  *    `start` cursor (the feed's native `updated_after` parameter), so
  *    executors pull pages concurrently exactly as in a batch backfill.
  *    Adjacent partitions OVERLAP by one page: a row that mutates
  *    mid-batch moves to the tail of the ordering and every row behind it
  *    shifts one offset down, so a row sitting at a partition boundary
  *    could slide into a range an earlier partition already read and be
  *    delivered by neither. The one-page lookback re-reads the boundary
  *    (covering up to `pageSize` mid-batch mutations); rows double-read in
  *    the overlap are the at-least-once duplicates the idempotent sinks
  *    already absorb.
  *  - Each partition's row window is `(start, end]` by `updated_at`: rows
  *    that mutate (and so re-order) AFTER `latestOffset` probed are
  *    excluded from this batch and picked up by the next one —
  *    at-least-once from the source, exactly-once after the pipeline's
  *    idempotent sinks (history anti-join / newer-wins upsert), the same
  *    contract as the reference's lookback re-read.
  *
  * Requires a `TimestampType` column named `updated_at` in the schema (the
  * feed's ordering contract, SURVEY.md O-1/O-2).
  */
class FeedMicroBatchStream(transport: FeedTransport, schema: StructType,
                           startCursor: Option[Instant], pageSize: Int,
                           pagesPerPartition: Int) extends MicroBatchStream {
  require(FeedScan.stampIndex(schema) >= 0,
    "graft-feed streaming needs a TIMESTAMP column 'updated_at'")
  private val startMicros = startCursor.fold(Long.MinValue)(FeedMicroBatchStream.micros)

  override def initialOffset(): Offset = FeedOffset(startMicros)

  /** Committed cursor, tracked driver-side so each trigger's probe runs
    * against only-new rows: probing from the INITIAL cursor would make the
    * per-trigger envelope count grow with everything the stream has ever
    * consumed. Resets on restart (Long.MinValue) — the first post-restart
    * probe pays one full count from the initial cursor, then re-tightens.
    */
  @volatile private var committedMicros: Long = Long.MinValue

  /** Max `updated_at` currently visible past the cursor; the stored offset
    * when the feed has nothing new (offsets must never regress).
    */
  override def latestOffset(): Offset = {
    val cur = math.max(committedMicros, startMicros)
    FeedOffset(FeedScan.probe(transport, schema, FeedMicroBatchStream.cursor(cur), pageSize)
      ._2.getOrElse(cur))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val after = start.asInstanceOf[FeedOffset].micros
    val until = end.asInstanceOf[FeedOffset].micros
    if (until <= after) return Array.empty
    // one-page lookback per partition (see class doc): rows shifted down by
    // mid-batch mutations re-appear in the overlap instead of being skipped;
    // the (start, end] row window plus idempotent sinks absorb the re-reads
    FeedScan.plan(FeedScan.total(transport, FeedMicroBatchStream.cursor(after)),
      pageSize, pagesPerPartition, overlap = pageSize, after, until)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedReaderFactory(transport, schema, pageSize)

  override def deserializeOffset(json: String): Offset = FeedOffset(json.toLong)
  override def commit(end: Offset): Unit =
    committedMicros = math.max(committedMicros, end.asInstanceOf[FeedOffset].micros)
  override def stop(): Unit = ()
}

/** The µs ↔ cursor pair: feed cursors, stream offsets and partition row
  * windows are epoch microseconds, `Long.MinValue` standing for no cursor.
  */
object FeedMicroBatchStream {
  def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L

  def cursor(m: Long): Option[Instant] =
    if (m == Long.MinValue) None
    else Some(Instant.ofEpochSecond(m / 1000000L, (m % 1000000L) * 1000L))
}
