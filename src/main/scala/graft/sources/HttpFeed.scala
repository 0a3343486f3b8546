package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** HTTP transport for the paginated change feed — the cluster deployment
  * path for [[FeedTableProvider]] (the in-JVM [[FeedRegistry]] only works in
  * `local[*]`, where driver and executors share the process).
  *
  * Mirrors the reference's client contract
  * (`services/extractor/app/http_client.py:9-58`,
  * `services/mock_wms_api/app/main.py:221-241`): GET with `updated_after`
  * (ISO-8601), `limit`, `offset` query params; connect timeout 5 s, request
  * timeout 20 s; response envelope `{"items": [...], "total": N}`. Retries
  * live OUTSIDE this class — the feed's one page loop ([[PagedFeed.pages]])
  * and its envelope probe wrap every `fetch` in [[PagedFeed.withRetry]]
  * (same backoff constants as the reference), so this transport only
  * classifies which failures are retryable: HTTP
  * 408/429/5xx and transport-level IO errors, per `http_client.py:32`.
  *
  * Scale posture: the object is a small serializable config (URL + schema);
  * each executor task builds its own `HttpClient` lazily (`@transient`), so
  * a 1000-partition cold backfill fans out across the cluster with no
  * driver-side state, and connection pools never ride the closure.
  *
  * JSON parsing uses Jackson from Spark's own runtime classpath (no extra
  * dependency) via a schema-driven converter — only the columns in
  * `schema` are read, in schema order, so the scan's pruned schema behaves
  * like a column projection on the wire payload.
  */
final case class HttpTransport(url: String, schema: StructType,
                               connectTimeoutMs: Long = 5000,
                               requestTimeoutMs: Long = 20000)
    extends FeedTransport {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(connectTimeoutMs))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  override def fetch(cursor: Option[Instant], limit: Int, offset: Long): PagedFeed.Page = {
    val sep = if (url.contains("?")) "&" else "?"
    val cursorParam = cursor.map(c => s"updated_after=${c.toString}&").getOrElse("")
    val uri = URI.create(s"$url$sep${cursorParam}limit=$limit&offset=$offset")
    val request = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .header("Accept", "application/json")
      .GET().build()
    val response =
      try client.send(request, HttpResponse.BodyHandlers.ofString())
      catch { // connect/read failures are transient by classification
        case e: java.io.IOException =>
          throw new PagedFeed.RetryableFeedError(s"feed IO failure at $uri: ${e.getMessage}")
      }
    response.statusCode() match {
      case ok if ok >= 200 && ok < 300 => HttpFeedJson.parsePage(response.body(), schema)
      case retryable if retryable == 408 || retryable == 429 || retryable >= 500 =>
        throw new PagedFeed.RetryableFeedError(s"feed HTTP $retryable at $uri")
      case other =>
        throw new IllegalStateException(s"feed HTTP $other at $uri: ${response.body().take(200)}")
    }
  }
}

/** Envelope + row decoding, kept separate so tests can exercise the JSON
  * contract without a live server.
  */
object HttpFeedJson {

  private val mapper = new ObjectMapper()

  /** `{"items": [...], "total": N}` → Page. A missing or non-numeric `total`
    * is an ERROR: scan planning probes with `limit=1` and partitions the
    * whole backfill by the reported total, so a silent items-count fallback
    * would plan a single 1-row partition and lose the rest of the feed
    * without any symptom (and the streaming offset probe would crawl one
    * timestamp per trigger). A feed without the M-4 envelope is not this
    * source's contract.
    */
  def parsePage(body: String, schema: StructType): PagedFeed.Page = {
    val root = mapper.readTree(body)
    val items = root.path("items")
    require(items.isArray, s"feed envelope missing 'items' array: ${body.take(200)}")
    val rows = (0 until items.size()).map(i => decodeRow(items.get(i), schema))
    val totalNode = root.path("total")
    require(totalNode.isNumber,
      s"feed envelope missing numeric 'total' (M-4 contract): ${body.take(200)}")
    PagedFeed.Page(rows, totalNode.asLong())
  }

  /** Schema-driven decode: absent/null JSON fields become SQL nulls; a
    * PRESENT value of the wrong JSON type is an error — Jackson's lenient
    * `asLong`/`asBoolean` would silently coerce `"abc"`/objects to 0/false
    * and corrupt downstream aggregates and payload hashes. The supported
    * types are the feed data model's (SURVEY.md §1.2) — strings,
    * integral/floating numbers, booleans, ISO-8601 instants, dates.
    */
  def decodeRow(node: JsonNode, schema: StructType): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      schema.fields.map { f =>
      val v = node.path(f.name)
      def mismatch(): Nothing = throw new IllegalStateException(
        s"feed column '${f.name}': expected ${f.dataType.simpleString}, got ${v.getNodeType} $v")
      if (v.isMissingNode || v.isNull) null
      else f.dataType match {
        case StringType => if (v.isTextual) v.asText() else mismatch()
        case LongType => if (v.isIntegralNumber) v.asLong() else mismatch()
        case IntegerType => if (v.isIntegralNumber) v.asInt() else mismatch()
        case DoubleType => if (v.isNumber) v.asDouble() else mismatch()
        case FloatType => if (v.isNumber) v.asDouble().toFloat else mismatch()
        case BooleanType => if (v.isBoolean) v.asBoolean() else mismatch()
        case TimestampType =>
          if (v.isTextual) java.sql.Timestamp.from(Instant.parse(v.asText())) else mismatch()
        case DateType =>
          if (v.isTextual) java.sql.Date.valueOf(v.asText()) else mismatch()
        case other =>
          throw new IllegalArgumentException(
            s"feed column '${f.name}': unsupported type $other")
      }
    }.asInstanceOf[Array[Any]], schema)
}
