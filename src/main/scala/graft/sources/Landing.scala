package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Hive-partitioned landing zone (reference O-13/O-14;
  * `services/extractor/app/writer_landing.py:16-55`,
  * `services/staging/app/reader_landing.py:5-26`).
  *
  * Layout: `landing_root/<entity>/run_id=<run_id>/part-*.{parquet|csv}` —
  * the `run_id=` directory is literal Hive partition syntax
  * (`writer_landing.py:29-35`), so a whole-entity read gets partition
  * discovery and partition PRUNING on `run_id` for free: staging reads
  * exactly one run's files, never a directory scan of cold runs.
  *
  * Idempotence: the write hard-fails if the destination already exists
  * (`writer_landing.py:38-39`) — at-most-once landing per run_id; Spark's
  * FileOutputCommitter supplies the write-to-tmp + atomic-rename the
  * reference hand-rolls (`writer_landing.py:42-52`).
  */
object Landing {

  def runDir(root: String, entity: String, runId: String): String =
    s"$root/$entity/run_id=$runId"

  /** Bucketed canonical table — the co-located-join layout. Writing history
    * / latest bucketed (and sorted) by the merge key means every downstream
    * keyed operation — the O-11 anti-join, the O-12 upsert merge, fact-to-
    * fact joins — reads both sides already hash-distributed on the key:
    * Spark plans the join with ZERO exchanges (asserted in `BucketingSpec`).
    * At 100 TB that deletes the largest shuffle in the pipeline; the price
    * is paid once at write time, amortized over every later run.
    *
    * Bucketing metadata lives in the session catalog (`saveAsTable`), the
    * standard Spark mechanism; `buckets` should be sized so one bucket's
    * rows fit an executor's memory at the target scale (e.g. 4096 buckets
    * for a 10 TB table → ~2.5 GB/bucket).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    mode: String = "errorifexists"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Z-order clustering value for multi-dimensional data skipping. Each
    * column is bucketed by its value's position between driver-sampled
    * `approxQuantile` fences (rank-normalization — Z-order on raw values
    * degenerates when ranges differ by orders of magnitude), then the
    * bucket bits are interleaved into one Morton value. Write with
    * `repartitionByRange(zorderValue(...))` + sort-within-partitions and
    * every file's parquet min/max footprint is tight in EVERY listed
    * dimension — point/range predicates on ANY of them skip most files,
    * where a linear sort only serves its leading column. The quantile
    * sample is driver-side and bounded (same posture as the IVF trainer);
    * fences are broadcast as literals inside the expression.
    */
  def zorderValue(df: DataFrame, cols: Seq[String], bits: Int = 12): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col => c}
    val nBuckets = 1 << bits
    // ONE quantile pass for all dimensions (the per-column overload scans
    // the table once per column), over double-cast projections so
    // timestamp/date dimensions — the natural time+key clustering — work
    // like the bucket expression below, which compares in double space too
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // loud on non-castable dimensions: a string key would cast to all
    // nulls, approxQuantile would return EMPTY fences, and that dimension
    // would silently collapse to bucket 0 for every row (no pruning)
    cols.foreach { n =>
      val dt = df.schema(n).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.DateType,
        s"z-order column '$n' must be numeric/timestamp/date, got ${dt.catalogString}")
    }
    val castNames = cols.indices.map(i => s"_zq$i")
    val casted = df.select(cols.zip(castNames).map { case (n, a) =>
      c(n).cast("double").as(a)
    }: _*)
    val fences = casted.stat.approxQuantile(castNames.toArray, probs, 0.001).toSeq
    val buckets = cols.zip(fences).map { case (name, f) =>
      // binary-search-equivalent as a literal fence array: count of fences
      // <= value = bucket index. aggregate over a literal array is tiny
      // (evaluated once per row over nBuckets-1 doubles) — acceptable for
      // writes; a native expression is the next step if profiled hot.
      org.apache.spark.sql.functions.aggregate(
        org.apache.spark.sql.functions.array(f.map(org.apache.spark.sql.functions.lit): _*),
        org.apache.spark.sql.functions.lit(0),
        (acc, fence) => acc + org.apache.spark.sql.functions
          .when(c(name).cast("double") >= fence, 1).otherwise(0))
    }
    graft.plans.GraftFunctions.interleaveBits(df, buckets, bits)
  }

  /** Morton layout: `df` range-partitioned into `n` buckets on the
    * Z-order of `cols` and sorted on it within each bucket — the
    * clustering that buys multi-dimensional min/max pruning, shared by
    * [[writeZOrdered]] and `ManifestStore.compactSmall`'s ZORDER rewrite.
    */
  def zOrdered(df: DataFrame, cols: Seq[String], n: Int, bits: Int = 12): DataFrame =
    df.withColumn("_z", zorderValue(df, cols, bits))
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")

  /** Cluster `df` on the Z-order of `cols` into `numFiles` range buckets
    * and write parquet — the layout step that buys multi-dimensional
    * min/max pruning on the landed data.
    */
  def writeZOrdered(df: DataFrame, dir: String, cols: Seq[String],
                    numFiles: Int, bits: Int = 12): Unit =
    zOrdered(df, cols, numFiles, bits).write.mode("errorifexists").parquet(dir)

  /** O-13 — write one run's batch as one file, as the reference writes a
    * single `part-000` file.
    */
  def write(df: DataFrame, root: String, entity: String, runId: String,
            format: String = "parquet"): Unit = {
    require(Seq("parquet", "csv").contains(format),
      s"unsupported landing format: $format (writer_landing.py:26-27 allows parquet|csv)")
    val writer = df.coalesce(1).write.mode("errorifexists")
    format match {
      case "parquet" => writer.parquet(runDir(root, entity, runId))
      case "csv" => writer.option("header", "true").csv(runDir(root, entity, runId))
    }
  }

  /** The schema Spark infers for a parquet file: its row metadata, else the
    * footer's parquet schema converted under the session's settings.
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Spark's parquet data files directly under `dir`: not hidden, not summaries. */
  private[sources] def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** O-14 — read one run back, validating required columns and re-coercing
    * the timestamp columns (`reader_landing.py:17-24`). Prefers parquet,
    * falls back to CSV (`reader_landing.py:10-15`). A parquet run's schema
    * is read on the driver from the footer of its first data file, the file
    * Spark's own inference reads, so the run gets the schema
    * `spark.read.parquet` would infer without its schema-inference job.
    */
  def read(spark: SparkSession, root: String, entity: String, runId: String,
           required: Seq[String] = graft.model.Schemas.stagingRequired): DataFrame = {
    val dir = new Path(runDir(root, entity, runId))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new java.io.FileNotFoundException(dir.toString)
    // Spark's inference reads the first data file by path
    val df = dataFiles(fs, dir).headOption match {
      case Some(first) => spark.read.schema(footerSchema(spark, first)).parquet(dir.toString)
      case None => spark.read.option("header", "true").option("inferSchema", "true").csv(dir.toString)
    }
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"landing missing columns: ${missing.mkString(", ")}")
    // Re-coerce the three pipeline timestamp columns (CSV round-trips them
    // as strings) — reader_landing.py:22-24.
    val tsCols = Seq("updated_at", "_extracted_at", "_watermark_effective")
      .filter(df.columns.contains)
      .filter(c => df.schema(c).dataType != TimestampType)
    if (tsCols.isEmpty) df
    else df.withColumns(tsCols.map(c => c -> col(c).cast(TimestampType)).toMap)
  }
}
