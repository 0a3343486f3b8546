package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** Row count plus two order-independent hash sums over every column. */
final case class Fingerprint(rows: Long, xx: Long, murmur: Long) {
  def toSeq: Seq[Long] = Seq(rows, xx, murmur)
}

/** The read side: `SparkEntry.queries` with every column of every result
  * row computed, by writing the result to Spark's `noop` sink.
  */
object QueryLibrary {

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Hashable image of each column: maps cannot be hashed, so they are
    * hashed through their JSON text.
    */
  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    if (containsMap(f.dataType)) to_json(col(s"`${f.name}`")) else col(s"`${f.name}`")
  }

  /** Builds query `name` over `dir` and writes its full result to the noop
    * sink, observing the result's fingerprint on the same pass.
    */
  def run(spark: SparkSession, name: String, dir: String,
          queries: String => (SparkSession, String) => DataFrame = SparkEntry.queries): Fingerprint = {
    val df = queries(name)(spark, dir)
    val cols = hashable(df)
    val obs = Observation(s"perfbench_$name")
    val observed =
      if (cols.isEmpty) df.observe(obs, count(lit(1)).as("n"), lit(0L).as("x"), lit(0L).as("m"))
      else df.observe(obs, count(lit(1)).as("n"),
        sum(pmod(xxhash64(cols: _*), lit(2147483647L))).as("x"),
        sum(hash(cols: _*).cast(LongType)).as("m"))
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    def long(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Fingerprint(long("n"), long("x"), long("m"))
  }

  /** Drops what one query persisted, so the next is not timed under the
    * previous one's memory pressure (as `graft.Bench` does).
    */
  def dropPersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.functions.Par.unpersistAll(spark, blocking = true)
  }

  /** The families whose functions a query calls, for the per-layer sums;
    * q01–q16 are the WMS operators, q144–q157 the catalog's SQL surface.
    */
  def families(name: String, functions: Seq[String]): Seq[String] = {
    val n = name.drop(1).takeWhile(_.isDigit).toInt
    functions.map(f => s"functions.$f") ++
      (if (n <= 16) Seq("operators.wms") else Nil) ++
      (if (n >= 144 && n <= 157) Seq("sources.catalog") else Nil)
  }
}
