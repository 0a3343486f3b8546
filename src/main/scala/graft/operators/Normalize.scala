package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema normalization of semi-structured input rows (reference operators
  * O-5…O-9; `services/extractor/app/normalize.py:11-67`).
  *
  * All transforms are single declarative projections — no shuffle is
  * introduced except by [[Dedup.keepLast]], whose one window shuffle is the
  * operator's semantic requirement. At 100 TB the normalize step therefore
  * stays map-side and fuses into whole-stage codegen with the scan.
  */
object Normalize {

  /** O-5 — time-column normalization by suffix convention
    * (`normalize.py:11-18`): every `*_at` column becomes a UTC timestamp,
    * every `*_date` column a date. Invalid strings become null, mirroring
    * pandas `errors="coerce"` — hence `try_to_timestamp`/try-cast semantics
    * rather than ANSI-failing casts.
    */
  def parseTimeCols(df: DataFrame): DataFrame = {
    val updated = df.schema.fields.collect {
      case f if f.name.endsWith("_at") && !isTimestamp(f.dataType) =>
        f.name -> try_to_timestamp(col(f.name).cast(StringType))
      case f if f.name.endsWith("_date") && f.dataType != DateType =>
        f.name -> try_to_timestamp(col(f.name).cast(StringType)).cast(DateType)
    }
    if (updated.isEmpty) df else df.withColumns(updated.toMap)
  }

  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** O-6 — nested-array flatten-to-JSON (`normalize.py:20-27`): replaces an
    * array-of-structs column with `<name>_json` (JSON text), null-preserving.
    * Spark's `to_json` is codegen'd Jackson, the analog of the reference's
    * `json.dumps(ensure_ascii=False)`.
    */
  def flattenNested(df: DataFrame, colName: String = "lines"): DataFrame =
    if (!df.columns.contains(colName)) df
    else df.withColumn(s"${colName}_json", to_json(col(colName))).drop(colName)

  /** O-7 — required-field validation (`normalize.py:46-55`): fail the run if
    * any required column is missing or null; the error carries at most
    * `sampleN` offending rows, like the reference's `head(5)` sample.
    */
  def requireFields(df: DataFrame, required: Seq[String] = Seq("id", "updated_at"),
                    sampleN: Int = 5): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"missing required columns: ${missing.mkString(", ")}")
    val badPred = required.map(c => col(c).isNull).reduce(_ || _)
    val bad = df.filter(badPred).limit(sampleN).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"null required fields in ${bad.length}+ rows; sample: ${bad.mkString("; ")}")
    df
  }

  /** O-8 — lineage metadata projection (`normalize.py:60-62`). */
  def withMetadata(df: DataFrame, runId: String,
                   extractedAt: java.time.Instant,
                   watermarkEffective: java.time.Instant): DataFrame =
    df.withColumns(Map(
      "_run_id" -> lit(runId),
      "_extracted_at" -> lit(java.sql.Timestamp.from(extractedAt)),
      "_watermark_effective" -> lit(java.sql.Timestamp.from(watermarkEffective))))

  /** Full `normalize_rows` composition (`normalize.py:29-67`): coerce id to
    * string, parse time columns, flatten `lines`, validate, tag metadata,
    * dedup keep-last on `(id, updated_at)`. The reference's trailing stable
    * sort is deliberately NOT materialized — global order is a presentation
    * concern; callers that need it apply `orderBy` at the sink.
    */
  def normalizeRows(df: DataFrame, runId: String,
                    extractedAt: java.time.Instant,
                    watermarkEffective: java.time.Instant): DataFrame = {
    val idAsString =
      if (df.columns.contains("id")) df.withColumn("id", col("id").cast(StringType)) else df
    val parsed = flattenNested(parseTimeCols(idAsString))
    val valid = requireFields(parsed)
    val tagged = withMetadata(valid, runId, extractedAt, watermarkEffective)
    Dedup.keepLast(tagged, Seq("id", "updated_at"))
  }
}
