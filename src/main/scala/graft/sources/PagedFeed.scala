package graft.sources

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Incremental paginated change-feed client (reference O-1/O-2/X-1;
  * `services/extractor/app/extract.py:30-89`,
  * `services/extractor/app/http_client.py:19-58`).
  *
  * The page fetcher is abstract (`fetchPage`): the reference's HTTP GET with
  * query params maps to any callable returning one page of rows plus the
  * total filtered count (the M-4 envelope). Driver-side accumulation
  * mirrors the reference exactly — pages are small (≤500 rows) control-plane
  * data; the bulk path into Spark is `toDf` once per incremental batch.
  * A feed too large for that belongs behind a DSv2 scan (see
  * `graft.sources.FeedTableProvider`) where each partition pulls its own
  * page range through the same page loop, [[pages]].
  */
object PagedFeed {

  /** One page of results: rows + the envelope's total filtered count. */
  final case class Page(rows: Seq[Row], totalCount: Long)

  /** Retryable fetch with exponential backoff + jitter
    * (`http_client.py:19-58`: base 0.5·2^i, jitter 50-100%, ≤3 retries).
    * `sleeper` is injectable so tests don't wait; `jitter` is injectable
    * for deterministic tests and defaults to the thread-local RNG — a
    * per-call seeded Random would give every task on every executor the
    * IDENTICAL backoff sequence, re-synchronizing the very retry storm
    * jitter exists to break up (1000 partitions all hitting a 429 would
    * re-hammer the endpoint in lockstep).
    */
  def withRetry[T](maxRetries: Int = 3, baseDelayMs: Long = 500,
                   jitter: util.Random = null,
                   sleeper: Long => Unit = Thread.sleep)(f: () => T): T = {
    var attempt = 0
    while (true) {
      try return f()
      catch {
        case e: RetryableFeedError =>
          if (attempt >= maxRetries) throw e
          val rng: util.Random =
            if (jitter == null) java.util.concurrent.ThreadLocalRandom.current()
            else jitter
          val delay = (baseDelayMs * (1L << attempt) * (0.5 + 0.5 * rng.nextDouble())).toLong
          sleeper(delay)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Marker for errors worth retrying (HTTP {408,429,5xx} / transient IO in
    * the reference — `http_client.py:32`).
    */
  class RetryableFeedError(msg: String) extends RuntimeException(msg)

  /** O-2 — sort-order assertion: the feed must be non-decreasing by
    * `(updatedAt, id)` across and within pages (`extract.py:17-27`). The
    * reference compares ISO strings; we compare typed values (§8 Q-5).
    */
  def assertStableOrder(rows: Seq[Row], tsIdx: Int, idIdx: Int, entity: String): Unit = {
    val keys = rows.map(r => (r.getTimestamp(tsIdx).toInstant, r.getString(idIdx)))
    keys.sliding(2).foreach {
      case Seq((t1, i1), (t2, i2)) =>
        val ok = t1.isBefore(t2) || (t1 == t2 && i1 <= i2)
        if (!ok) throw new IllegalStateException(
          s"feed '$entity' violated (updated_at, id) order: ($t1,$i1) then ($t2,$i2)")
      case _ => ()
    }
  }

  /** The one page loop: the rows at offsets `[from, until)`, `pageSize` per
    * `fetch(limit, offset)` call (fewer at `until`), each call through
    * [[withRetry]] and made only when the iterator reaches its page. It
    * stops after a short page or at `until`. [[fetchAll]] and the DSv2
    * partition reader ([[FeedReaderFactory]]) both pull through it.
    */
  def pages(fetch: (Int, Long) => Page, pageSize: Int, from: Long,
            until: Long): Iterator[Seq[Row]] = new Iterator[Seq[Row]] {
    private var offset = from
    private var short = false
    override def hasNext: Boolean = !short && offset < until
    override def next(): Seq[Row] = {
      val limit = math.min(pageSize.toLong, until - offset).toInt
      val rows = withRetry()(() => fetch(limit, offset)).rows
      offset += rows.size
      short = rows.size < limit
      rows
    }
  }

  /** O-1 — pull every row with `updated_at > updatedAfter`, page by page,
    * until a short or empty page; runaway guard at offset ≥ 2,000,000
    * (`extract.py:86-87`). Returns the concatenated rows.
    */
  def fetchAll(fetchPage: (Instant, Int, Long) => Page,
               updatedAfter: Instant, limit: Int = 500, entity: String = "feed",
               tsIdx: Int = -1, idIdx: Int = -1,
               maxOffset: Long = 2000000L): Seq[Row] = {
    require(limit >= 1 && limit <= 500, s"limit must be in [1,500], got $limit")
    val out = Seq.newBuilder[Row]
    var offset = 0L
    pages((l, o) => fetchPage(updatedAfter, l, o), limit, 0L, maxOffset).foreach { rows =>
      if (tsIdx >= 0 && idIdx >= 0) assertStableOrder(rows, tsIdx, idIdx, entity)
      out ++= rows
      offset += rows.size
    }
    // full pages all the way to maxOffset: the loop never saw the feed end
    if (offset >= maxOffset)
      throw new IllegalStateException(s"feed '$entity' runaway: offset $offset >= $maxOffset")
    out.result()
  }

  def toDf(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toList), schema)
}
