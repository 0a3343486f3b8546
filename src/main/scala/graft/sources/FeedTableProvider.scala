package graft.sources

import java.time.Instant
import java.util
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the paginated change feed (reference O-1
  * live mode; SURVEY.md §7.2 — the one genuinely custom engine extension in
  * scope).
  *
  * `spark.read.format("graft-feed").option("feed", <name>).load()`
  *
  * Engine integration:
  *  - **Filter pushdown** (`SupportsPushDownFilters`): a
  *    `updated_at > cursor` predicate is pushed into the feed query itself —
  *    exactly how the reference pushes `updated_after` into the HTTP query
  *    string (`extract.py:49-53`) instead of filtering client-side. Catalyst
  *    re-applies residual filters above, so correctness never depends on the
  *    source honoring the pushdown.
  *  - **Partitioned scan**: the M-4 envelope count lets the scan plan one
  *    input partition per page *range*, so a cold-start backfill pulls pages
  *    concurrently from many executors instead of the reference's serial
  *    driver loop. `pages_per_partition` bounds per-task work.
  *  - **One reader for batch and streaming**: a micro-batch is a bounded
  *    interval of the same feed. [[FeedScan]] and [[FeedMicroBatchStream]]
  *    plan [[FeedInputPartition]]s with the same envelope probe and
  *    planner, and one [[FeedReaderFactory]] reads them, keeping each
  *    partition's `updated_at` window `(after, until]`.
  *
  * The transport is pluggable via [[FeedTransport]]: `option("feed", name)`
  * resolves through the in-JVM [[FeedRegistry]] (local mode / tests, where
  * driver and executors share the process); `option("url", ...)` +
  * `schema_ddl` uses [[HttpTransport]] — the cluster path, where every
  * executor fetches its own page range through [[PagedFeed.pages]], with
  * [[PagedFeed.withRetry]] around each page.
  */
object FeedRegistry {
  final case class RegisteredFeed(schema: StructType,
                                  fetch: (Option[Instant], Int, Long) => PagedFeed.Page)

  private val feeds = new java.util.concurrent.ConcurrentHashMap[String, RegisteredFeed]()

  def register(name: String, schema: StructType,
               fetch: (Option[Instant], Int, Long) => PagedFeed.Page): Unit =
    feeds.put(name, RegisteredFeed(schema, fetch))

  def get(name: String): RegisteredFeed = {
    val f = feeds.get(name)
    require(f != null, s"no registered feed '$name' — call FeedRegistry.register first")
    f
  }
}

/** Where page fetches actually go. Implementations must be small
  * serializable configs — a transport rides the task closure to every
  * executor, which then issues its partition's page range itself (no
  * driver-side fan-in). [[RegistryTransport]] resolves through the in-JVM
  * registry (local mode / tests); [[HttpTransport]] is the cluster path.
  */
trait FeedTransport extends Serializable {
  def fetch(cursor: Option[Instant], limit: Int, offset: Long): PagedFeed.Page
  /** Shown in the scan description / Spark UI. */
  def label: String = toString
}

final case class RegistryTransport(feedName: String) extends FeedTransport {
  override def fetch(cursor: Option[Instant], limit: Int, offset: Long): PagedFeed.Page =
    FeedRegistry.get(feedName).fetch(cursor, limit, offset)
  override def label: String = feedName
}

class FeedTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-feed"

  /** Registry feeds carry their schema; HTTP feeds declare it via the
    * `schema_ddl` option (or `.schema(...)` on the reader) — a remote
    * endpoint is not probed at planning time just to guess types.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("url")) {
      require(options.containsKey("schema_ddl"),
        "graft-feed over HTTP needs .schema(...) or option(\"schema_ddl\", ...)")
      StructType.fromDDL(options.get("schema_ddl"))
    } else FeedRegistry.get(options.get("feed")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // inferSchema saw a CaseInsensitiveStringMap; the raw properties here
    // are not — a mixed-case option key must resolve the same transport
    val opts = new CaseInsensitiveStringMap(properties)
    val transport =
      if (opts.containsKey("url")) HttpTransport(opts.get("url"), schema)
      else RegistryTransport(opts.get("feed"))
    new FeedTable(transport, schema)
  }
}

class FeedTable(transport: FeedTransport, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-feed:${transport.label}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeedScanBuilder(transport, tableSchema,
      options.getInt("pagesize", 500),
      options.getInt("pages_per_partition", 4))
}

class FeedScanBuilder(transport: FeedTransport, schema: StructType, pageSize: Int,
                      pagesPerPartition: Int)
    extends ScanBuilder with SupportsPushDownFilters {

  private var cursor: Option[Instant] = None
  private var pushed: Array[Filter] = Array.empty

  /** Accept `updated_at > ts` (the feed's native cursor predicate); leave
    * everything else to Spark. Returned array = filters Spark must still
    * evaluate; we also let Spark re-check the pushed one (cheap, safe).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val tsField = schema.fields.find(f =>
      f.name == "updated_at" && f.dataType == TimestampType).map(_.name)
    pushed = filters.filter {
      case GreaterThan(col, v) if tsField.contains(col) =>
        val inst = v match {
          case t: java.sql.Timestamp => Some(t.toInstant)
          case i: Instant => Some(i)
          case _ => None
        }
        inst match {
          case Some(i) =>
            cursor = Some(cursor.filter(_.isAfter(i)).getOrElse(i))
            true
          case None => false
        }
      case _ => false
    }
    filters // Spark re-evaluates everything; pushdown is a scan optimization
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new FeedScan(transport, schema, cursor, pageSize,
    pagesPerPartition)
}

class FeedScan(transport: FeedTransport, val schema: StructType, cursor: Option[Instant],
               pageSize: Int, pagesPerPartition: Int) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FeedMicroBatchStream(transport, schema, cursor, pageSize, pagesPerPartition)
  override def description(): String =
    s"graft-feed:${transport.label} cursor=${cursor.getOrElse("none")}"

  // ONE envelope probe per scan: a second would double the feed
  // round-trips (and 429 exposure) of every batch query over the connector
  private lazy val partitions: Array[InputPartition] = {
    val (total, end) = FeedScan.probe(transport, schema, cursor, pageSize)
    FeedScan.plan(total, pageSize, pagesPerPartition, overlap = 0,
      cursor.fold(Long.MinValue)(FeedMicroBatchStream.micros), end.getOrElse(Long.MaxValue))
  }

  /** One partition per page range of the probed total, with no overlap (a
    * batch result has no idempotent sink to absorb re-read rows), all
    * reading the window `(cursor, end stamp]`. The probe's END STAMP bounds
    * the scan: a row that mutates DURING the scan moves to the tail of the
    * (updated_at, id) order with a new timestamp past the stamp, so a torn
    * read can never deliver two versions of one row in one result, and the
    * mutation is picked up by the next incremental run's cursor instead.
    * What the bound cannot recover is a row that SHIFTS into an already-read
    * offset range when an earlier row mutates out from under it — inherent
    * to one-shot offset pagination over a mutable feed (the reference's
    * batch extract has the same in-run property; its mitigation is the next
    * run's lookback window). Pipelines needing at-least-once under live
    * mutation use the streaming form, whose one-page overlap plus
    * idempotent sinks absorb exactly that case.
    */
  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedReaderFactory(transport, schema, pageSize)
}

/** The envelope probe and the page-range planner the batch scan and the
  * micro-batch stream share.
  */
object FeedScan {
  /** Index of the TIMESTAMP `updated_at` column that orders the feed, or
    * -1: a schema without one reads through an unfiltered window.
    */
  def stampIndex(schema: StructType): Int =
    schema.fields.indexWhere(f => f.name == "updated_at" && f.dataType == TimestampType)

  /** The M-4 envelope total: rows past `cursor`. */
  def total(transport: FeedTransport, cursor: Option[Instant]): Long =
    PagedFeed.withRetry()(() => transport.fetch(cursor, 1, 0)).totalCount

  /** The total past `cursor` and the end stamp: the max non-null
    * `updated_at` (µs) of the LAST PAGE, `None` when there is none. The
    * whole last page, not just the tail row: a store that orders NULL
    * `updated_at` last pins a null row at the tail, where a tail-row probe
    * would find no stamp (and a stream's offset would never advance); the
    * page's max steps past up to `pageSize - 1` trailing nulls.
    */
  def probe(transport: FeedTransport, schema: StructType, cursor: Option[Instant],
            pageSize: Int): (Long, Option[Long]) = {
    val n = total(transport, cursor)
    val tsIdx = stampIndex(schema)
    if (n == 0 || tsIdx < 0) return (n, None)
    val last = math.min(pageSize.toLong, n).toInt
    val stamps = PagedFeed.withRetry()(() => transport.fetch(cursor, last, n - last)).rows
      .flatMap(r => Option(r.getTimestamp(tsIdx)))
    (n, stamps.map(ts => FeedMicroBatchStream.micros(ts.toInstant)).maxOption)
  }

  /** One partition per `pageSize × pagesPerPartition` span of `total` rows,
    * each starting `overlap` rows early, all keeping the row window
    * `(after, until]`.
    */
  def plan(total: Long, pageSize: Int, pagesPerPartition: Int, overlap: Long,
           after: Long, until: Long): Array[InputPartition] = {
    val span = pageSize.toLong * pagesPerPartition
    (0L until total by span)
      .map(s => FeedInputPartition(math.max(0L, s - overlap), math.min(s + span, total), after, until))
      .toArray
  }
}

/** Offsets `[firstOffset, lastOffsetExclusive)` of the feed past the cursor
  * `afterMicros`, read through the row window `(afterMicros, untilMicros]`
  * in epoch µs (`Long.MinValue`: no cursor; `Long.MaxValue`: no end).
  */
final case class FeedInputPartition(firstOffset: Long, lastOffsetExclusive: Long,
                                    afterMicros: Long, untilMicros: Long)
    extends InputPartition

/** The partition reader of the batch scan and the micro-batch stream: it
  * pulls its page range through [[PagedFeed.pages]] and keeps the rows whose
  * `updated_at` lies in the partition's window. Rows past the window's end
  * mutated after the planning probe; the next run or micro-batch takes them.
  */
class FeedReaderFactory(transport: FeedTransport, schema: StructType, pageSize: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FeedInputPartition]
    val tsIdx = FeedScan.stampIndex(schema)
    val cursor = FeedMicroBatchStream.cursor(p.afterMicros)
    // a NULL updated_at row cannot be ordered into any cursor window: it
    // rides a read with no cursor (the cold start) — AT MOST once overall.
    // Cursored fetches exclude it server-side, as Spark's re-applied
    // `updated_at > cursor` filter would; upstreams must stamp updated_at
    // for a row to be streamable.
    def inWindow(r: Row): Boolean = tsIdx < 0 || {
      val ts = r.getTimestamp(tsIdx)
      if (ts == null) p.afterMicros == Long.MinValue
      else {
        val m = FeedMicroBatchStream.micros(ts.toInstant)
        m > p.afterMicros && m <= p.untilMicros
      }
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val rows = PagedFeed.pages((limit, offset) => transport.fetch(cursor, limit, offset),
        pageSize, p.firstOffset, p.lastOffsetExclusive)
      .flatMap(_.iterator.filter(inWindow))
      .map(r => toCatalyst(r).asInstanceOf[InternalRow])
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
