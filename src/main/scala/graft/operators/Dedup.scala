package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed deduplication (reference O-9; `services/extractor/app/normalize.py:64-65`).
  *
  * The reference does a *stable* mergesort then `drop_duplicates(keep="last")`:
  * within an exact duplicate key group the latest-arriving row wins. Spark has
  * no stable arrival order after a shuffle, so arrival must be captured as a
  * column *before* any exchange (`monotonically_increasing_id` on the scanned
  * partitions) and used as the tie-break ordering. See SURVEY.md §4 ("stable
  * mergesort" row) — this is the one spot where naive translation silently
  * changes semantics.
  *
  * Scale: one hash-partitioned window shuffle on the dedup keys. For 100 TB
  * inputs prefer [[keepLastAgg]], which map-side-combines to one row per key
  * per partition before the exchange, shuffling ~|keys| rows instead of all.
  */
object Dedup {

  /** Tag arrival order. Must be applied before any shuffle to be meaningful. */
  def withArrivalOrder(df: DataFrame, colName: String = "_arrival"): DataFrame =
    df.withColumn(colName, monotonically_increasing_id())

  /** O-9 — keep exactly one row per key group, preferring the greatest
    * `ordering` tuple (default: latest arrival). Window implementation —
    * keeps all columns without naming gymnastics.
    */
  def keepLast(df: DataFrame, keys: Seq[String], ordering: Seq[Column] = Nil): DataFrame = {
    val tagged = if (ordering.isEmpty) withArrivalOrder(df) else df
    val ord = if (ordering.isEmpty) Seq(col("_arrival").desc) else ordering.map(_.desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val out = tagged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    if (ordering.isEmpty) out.drop("_arrival") else out
  }

  /** Shuffle-lean variant of [[keepLast]]: `max_by(struct(*), ord)` performs a
    * partial (map-side) aggregate, so only one candidate row per key per input
    * partition crosses the exchange. Semantics identical when `ord` is a total
    * order within each key group.
    */
  def keepLastAgg(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("_row"))
      .select(col("_row.*"))
  }
}
