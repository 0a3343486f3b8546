package perfbench

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Normalize, Payload}
import graft.pipeline.{Extractor, ExtractorConfig, Stager, StagerConfig}

/** The pipeline under test, rooted at one landing and one state directory:
  * each run extracts both entities under one run id, then stages each.
  */
final class WmsPipeline(spark: SparkSession, root: String) {
  val landingRoot = s"$root/landing"
  val stateRoot = s"$root/state"
  val pipelineName = "wms_pipeline"
  private val extractor = new Extractor(spark, ExtractorConfig(landingRoot, stateRoot,
    pipelineName = pipelineName, defaultStart = Instant.parse("2023-12-31T00:00:00Z")))
  val stager = new Stager(spark, StagerConfig(landingRoot, stateRoot, pipelineName))

  /** One run; returns the rows staged into the latest tables. */
  def run(runId: String, feeds: Map[String, Instant => DataFrame],
          tracer: Tracer, op: Int): Long = {
    tracer.span("pipeline.extract", op)(extractor.run(feeds, runId))
    Entity.all.map { e =>
      tracer.span("pipeline.stage", op)(stager.run(e.name, runId)).rowsIn
    }.sum
  }
}

/** The generated source, written once during set-up as one parquet
  * directory per entity and tick; the program reads it only through the
  * feed closures.
  */
final class WmsSource(spark: SparkSession, val gen: WmsGen, root: String) {
  val feedRoot = s"$root/feed"

  def tickDir(e: Entity, k: Int): String = s"$feedRoot/${e.name}/tick=$k"

  /** Writes ticks `from` until `gen.ticks` to the feed directory. */
  def write(from: Int): Unit = Entity.all.foreach { e =>
    val rows = (from until gen.ticks).flatMap(k => gen.tick(k)(e).map(r => (k, r)))
    val schema = e.schema.add("tick", "int")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, r) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ k) }: _*),
      schema)
    df.write.mode("append").partitionBy("tick").parquet(s"$feedRoot/${e.name}")
  }

  /** Feed closures for tick `k`: the change set, strictly newer than the
    * cursor, as the mock API's incremental endpoint serves it.
    */
  def feeds(k: Int, tracer: Tracer, op: Int): Map[String, Instant => DataFrame] =
    Entity.all.map { e =>
      e.name -> ((cursor: Instant) => tracer.span("pipeline.feed", op) {
        spark.read.schema(e.schema).parquet(tickDir(e, k))
          .filter(try_to_timestamp(col("updated_at")) > lit(java.sql.Timestamp.from(cursor)))
      })
    }.toMap

  /** (updated_at, payload_hash) of every generated version, keyed by id:
    * the reference the latest tables are checked against. Computed once,
    * from the raw rows, by applying the normalize and payload operators to
    * each version on its own.
    */
  lazy val expectedHash: Map[(String, Long), String] = Entity.all.flatMap { e =>
    val raw = spark.read.schema(e.schema).parquet(s"$feedRoot/${e.name}").drop("tick")
    val epoch = Instant.EPOCH
    Payload.withPayloadAndHash(Normalize.normalizeRows(raw, "reference", epoch, epoch))
      .select(col("id"), unix_micros(col("updated_at")), col("payload_hash"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2))
  }.toMap
}

/** The end state after tick `k` must equal the generator's: checked
  * outside the timed window, by reading the tables directly.
  */
object WmsCheck {
  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  def apply(spark: SparkSession, p: WmsPipeline, src: WmsSource, k: Int,
            runIds: Seq[String]): Unit = {
    Entity.all.foreach(e => entity(spark, p, src, k, e))
    val log = spark.read.parquet(s"${p.stateRoot}/pipeline_run_log")
      .select(col("run_id"), col("status")).collect().map(r => (r.getString(0), r.getString(1)))
    val want = runIds.map(_ -> "success").sorted
    if (log.toSeq.sorted != want)
      throw new IllegalStateException(
        s"run log: ${log.mkString(",")}, want one success row for each of ${runIds.mkString(",")}")
  }

  private def entity(spark: SparkSession, p: WmsPipeline, src: WmsSource, k: Int,
                     e: Entity): Unit = {
    val want = src.gen.snapshot(e, k).map { case (id, r) =>
      val at = micros(Instant.parse(r.getString(e.at("updated_at"))))
      id -> (at, src.expectedHash((id, at)))
    }
    val got = spark.read.parquet(p.stager.latestDir(e.name))
      .select(col("id"), unix_micros(col("updated_at")), col("payload_hash"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    if (got.size != want.size || got != want) {
      val bad = (want.keySet ++ got.keySet).find(id => want.get(id) != got.get(id))
      throw new IllegalStateException(s"${e.name} latest: ${got.size} rows, want ${want.size}; " +
        s"first difference at id ${bad.orNull}: got ${bad.flatMap(got.get)}, want ${bad.flatMap(want.get)}")
    }
    val hist = spark.read.parquet(p.stager.historyDir(e.name)).count()
    val versions = src.gen.versions(e, k)
    if (hist != versions)
      throw new IllegalStateException(s"${e.name} history: $hist rows, want $versions")
    val wm = spark.read.parquet(s"${p.stateRoot}/etl_watermark")
      .filter(col("pipeline_name") === p.pipelineName && col("entity") === e.name)
      .select(unix_micros(col("last_success_time"))).collect().map(_.getLong(0)).toSeq
    val wantWm = micros(src.gen.maxUpdatedAt(e, k))
    if (wm != Seq(wantWm))
      throw new IllegalStateException(s"${e.name} watermark: $wm, want $wantWm")
  }
}
