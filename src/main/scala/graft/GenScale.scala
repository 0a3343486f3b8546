package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver-generated testdata: replicate
  * each table K× with copy-indexed KEY SHIFTS so every join preserves
  * its cardinality ratios exactly (copy i's orders reference copy i's
  * customers — the TPC-H scaling law, applied to the existing corpus
  * instead of a new generator, so sf1 is distribution-identical to
  * sf0.1 in every non-key column). Copy 0 is byte-identical to the
  * source, so probe literals in the query suite (vec_id < 8, January
  * cutoffs) hit exactly the rows they hit at the source scale.
  *
  * Two content columns are PERTURBED per copy — replication would
  * otherwise change the WORKLOAD, not just the size, for the similarity
  * family (every doc/vector would gain K−1 exact clones, and near-dup /
  * ANN measurements would quadratically chase clone pairs instead of
  * scaling the real pair distribution):
  *  - `documents.text`: every whitespace token gets a copy suffix
  *    (`_i`) — cross-copy Jaccard drops to 0 while WITHIN-copy near-dup
  *    structure (the thing being measured) is preserved verbatim;
  *  - `embeddings.embedding`: the 64-dim vector rotates by 7·i
  *    positions — norms and within-copy pairwise cosines are exactly
  *    preserved, cross-copy similarity decays to the corpus background.
  * Timestamps are NOT shifted: the events window stays dense January
  * 2024 (K× the rows per day — the tall-table shape a 100 TB corpus
  * actually has), and every literal cutoff in the suite stays valid.
  *
  * Usage: `runMain graft.GenScale <srcDir> <dstDir> [K=10]`
  */
object GenScale {

  // key domains and their copy offsets — far above any source-scale key
  private val Off = Map(
    "custkey" -> 1000000L, "orderkey" -> 10000000L, "partkey" -> 1000000L,
    "suppkey" -> 100000L, "event" -> 10000000L, "user" -> 1000000L,
    "doc" -> 1000000L, "vec" -> 1000000L)

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("testdata_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    // optional comma-list restricting which tables to generate — the
    // third-decade probes (K=1000) need only documents/embeddings, and
    // replicating lineitem 1000× would cost ~25 GB for nothing
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local()
    run(spark, src, dst, k, only)
    spark.stop()
  }

  /** The generator body, callable from tests (main owns session lifecycle).
    * `only` restricts output to the named tables (None = all) — the
    * per-table frames are independent, so a subset is byte-identical to
    * the same tables of a full run.
    */
  def run(spark: SparkSession, src: String, dst: String, k: Int,
          only: Option[Set[String]] = None): Unit = {
    def t(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Union K copies of `df`, applying `edit(copyIndex)` to copies
      * 1..K−1. Copy 0 is `df` UNTOUCHED — no key shift by 0, no n_chars
      * recompute — so its rows are the source bytes by construction
      * regardless of source schema (a `col + lit(0L)` would widen INT
      * keys to BIGINT and a recomputed n_chars would diverge if the
      * generator's n_chars were ever not length(text)).
      */
    def scaled(df: DataFrame)(edit: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => if (i == 0) df else edit(df, i)).reduce(_ unionAll _)

    def shift(c: String, dom: String, i: Int) =
      col(c) + lit(Off(dom) * i)

    val out: Seq[(String, DataFrame)] = Seq(
      // fixed dims: nation/region do not scale with sf (TPC-H law)
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> scaled(t("customer")) { (df, i) =>
        df.withColumn("c_custkey", shift("c_custkey", "custkey", i))
      },
      "supplier" -> scaled(t("supplier")) { (df, i) =>
        df.withColumn("s_suppkey", shift("s_suppkey", "suppkey", i))
      },
      "part" -> scaled(t("part")) { (df, i) =>
        df.withColumn("p_partkey", shift("p_partkey", "partkey", i))
      },
      "orders" -> scaled(t("orders")) { (df, i) =>
        df.withColumn("o_orderkey", shift("o_orderkey", "orderkey", i))
          .withColumn("o_custkey", shift("o_custkey", "custkey", i))
      },
      "lineitem" -> scaled(t("lineitem")) { (df, i) =>
        df.withColumn("l_orderkey", shift("l_orderkey", "orderkey", i))
          .withColumn("l_partkey", shift("l_partkey", "partkey", i))
          .withColumn("l_suppkey", shift("l_suppkey", "suppkey", i))
      },
      "events" -> scaled(t("events")) { (df, i) =>
        df.withColumn("event_id", shift("event_id", "event", i))
          .withColumn("user_id", shift("user_id", "user", i))
      },
      "documents" -> scaled(t("documents")) { (df, i) =>
        val txt = array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_$i"))), " ")
        df.withColumn("doc_id", shift("doc_id", "doc", i))
          .withColumn("text", txt)
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> scaled(t("embeddings")) { (df, i) =>
        val dim = 64
        val r = (7 * i) % dim
        val emb =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        df.withColumn("vec_id", shift("vec_id", "vec", i))
          .withColumn("embedding", emb)
      })

    out.filter(o => only.forall(_.contains(o._1))).foreach { case (name, df) =>
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
  }
}
