package graft

import org.apache.spark.sql.SparkSession

/** Domain-safe twin of q145/q147 for scale probing. The oracle queries'
  * NOT-MATCHED insert keys are built as `o_orderkey + 700000000` (q145) /
  * `+ 600000000` (q147) — literals chosen above every key the driver's own
  * scales or GenScale×10 can produce (sf1 max orderkey ≈ 91.5M). At
  * GenScale K = 100 the shifted key domain reaches ≈ 991M, the insert
  * keys land INSIDE it, a target row matches two source rows, and both
  * MERGEs refuse with the cardinality-violation error — the correct
  * behavior, but it turns the sf10 bench numbers for those two queries
  * into time-to-error. This main runs the byte-identical MERGE shapes
  * with the insert offsets ×10 (7e9 / 6e9, above any key K ≤ 600 can
  * produce) so the second-decade MERGE exponent is measured on the same
  * workload the oracle proves right at driver scales. 3 timed reps per
  * query in one JVM, per-rep seconds + median as one JSON line.
  *
  * Usage: `runMain graft.MergeScaleProbe <sfDir> [reps=3]`
  */
object MergeScaleProbe {

  private def q145(s: SparkSession): Long = {
    val tbl = java.nio.file.Files.createTempDirectory("graft-p145")
      .toString + "/orders_m"
    s.sql(s"CREATE TABLE graft.`$tbl` AS SELECT o_orderkey, o_custkey " +
      "FROM probe_orders_src")
    s.sql(s"""MERGE INTO graft.`$tbl` t USING (
                SELECT o_orderkey, o_custkey + 7 AS o_custkey
                FROM probe_orders_src WHERE o_orderkey % 3 = 0
                UNION ALL
                SELECT o_orderkey + 7000000000, 42L
                FROM probe_orders_src WHERE o_orderkey % 500 = 0
              ) s ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
    s.sql(s"CALL graft.compact_small('$tbl', 64, 128)")
    s.sql(s"""SELECT o_orderkey % 97 AS bucket, count(*) AS n_orders,
                     sum(o_custkey) AS sum_cust
              FROM graft.`$tbl` GROUP BY o_orderkey % 97""").count()
  }

  private def q147(s: SparkSession): Long = {
    val tbl = java.nio.file.Files.createTempDirectory("graft-p147")
      .toString + "/orders_c"
    s.sql(s"CREATE TABLE graft.`$tbl` AS SELECT o_orderkey, o_custkey, " +
      "o_orderstatus FROM probe_orders_src")
    s.sql(s"""MERGE INTO graft.`$tbl` t USING (
                SELECT o_orderkey, o_custkey FROM probe_orders_src
                WHERE o_orderkey % 2 = 0
                UNION ALL
                SELECT o_orderkey + 6000000000, o_custkey FROM probe_orders_src
                WHERE o_orderkey % 400 = 0
              ) s ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
              WHEN MATCHED AND s.o_custkey % 5 = 0
                THEN UPDATE SET o_custkey = t.o_custkey + 1000000
              WHEN NOT MATCHED AND s.o_custkey % 3 = 0
                THEN INSERT (o_orderkey, o_custkey)
                     VALUES (s.o_orderkey, s.o_custkey)
              WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P'
                THEN UPDATE SET o_orderstatus = 'PX'""")
    s.sql(s"""SELECT coalesce(o_orderstatus, 'NEW') AS o_orderstatus,
                     count(*) AS n_orders, sum(o_custkey) AS sum_cust,
                     sum(o_orderkey % 997) AS sum_tail
              FROM graft.`$tbl`
              GROUP BY coalesce(o_orderstatus, 'NEW')""").count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local()
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("probe_orders_src")
    def fmt(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def med(ss: Seq[Double]) = ss.sorted.apply(ss.size / 2)
    val out = Seq("q145_shape" -> (() => q145(spark)),
                  "q147_shape" -> (() => q147(spark))).map { case (name, f) =>
      val ss = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      s""""$name":{"sec":[${ss.map(fmt).mkString(",")}],"med":${fmt(med(ss))}}"""
    }
    println(s"""{"mode":"merge_probe","sf":"$sfDir",${out.mkString(",")}}""")
    spark.stop()
  }
}
