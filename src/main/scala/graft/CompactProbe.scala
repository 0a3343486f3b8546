package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.sources.ManifestStore

/** Measured evidence for the bounded-OPTIMIZE deployment claim
  * ([[graft.sources.ManifestStore.compactSmall]]'s `maxInputBytes`): one
  * bounded call's cost is ∝ the INPUT IT REWRITES (bounded below by one
  * partition group), not ∝ the table's total small-file debt — so a
  * 100 TB backlog drains in flat-cost bites while the unbounded call
  * grows with the debt. The suite cannot show this (its lifecycle tables
  * carry bench-scale debt), so the probe builds it:
  *
  * {{{
  * runMain graft.CompactProbe /tmp/cp 5 2000 8   // commitsPerGroup rows groups1x
  * }}}
  *
  * Builds TWO debt tables with IDENTICAL per-group debt (every group =
  * `commitsPerGroup` single-partition commits of `rows` rows, every file
  * far below the 32 MB small threshold) but 5× the GROUP COUNT in the
  * big one — total debt scales, the bounded call's bite does not. Then,
  * in one JVM:
  *
  *  1. bounded calls (cap = one group's input) against BOTH — per-call
  *     seconds in execution order; the claim is the bands OVERLAP
  *     between 1× and 5× total debt (cost follows the bite, not the
  *     backlog);
  *  2. one UNBOUNDED call on each table's REMAINING debt — the contrast
  *     term that grows ∝ debt (4 groups left on 1× vs 36 on 5×).
  *
  * Output: one JSON line per measurement (`{"probe":"compact", ...}`) —
  * BASELINE.md §Round 12 quotes the medians.
  */
object CompactProbe {

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private val schema: StructType =
    StructType.fromDDL("k BIGINT, payload STRING, p BIGINT")

  /** Per-group debt held CONSTANT across tables: each group `g` receives
    * `perGroup` commits whose rows all carry partition value g — debt
    * scales by adding GROUPS, the bite a bounded call takes does not.
    */
  private def buildDebt(spark: SparkSession, dir: String, groups: Int,
                        perGroup: Int, rows: Int): Unit = {
    import spark.implicits._
    (0 until groups).foreach { g =>
      (0 until perGroup).foreach { c =>
        val df = (0 until rows).map { i =>
          val k = (g.toLong * perGroup + c) * rows + i
          (k, s"payload-$k-${"x" * 64}", g.toLong)
        }.toDF("k", "payload", "p")
        ManifestStore.appendPartitioned(df, dir, Seq("p"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/compact_probe")
    val perGroup = args.lift(1).map(_.toInt).getOrElse(5)
    val rows = args.lift(2).map(_.toInt).getOrElse(2000)
    val groups1x = args.lift(3).map(_.toInt).getOrElse(8)
    val spark = GraftSession.local()

    val dirs = Seq("debt1x" -> (groups1x, s"$base/t1"),
      "debt5x" -> (groups1x * 5, s"$base/t5"))
    dirs.foreach { case (_, (g, d)) => buildDebt(spark, d, g, perGroup, rows) }
    val snap1 = ManifestStore.currentSnapshot(spark, dirs.head._2._2).get
    val cap = snap1.files.groupBy(f => snap1.parts(f)("p"))
      .map { case (_, fs) => fs.map(f => snap1.sizes(f)).sum }.max
    println(s"""{"probe":"compact","setup":{"per_group_commits":$perGroup,""" +
      s""""rows":$rows,"groups_1x":$groups1x,"files_1x":${snap1.files.size},""" +
      s""""cap_bytes":$cap}}""")

    dirs.foreach { case (name, (g, d)) =>
      val before = ManifestStore.currentSnapshot(spark, d).get.files.size
      // bounded: HALF of 1×'s groups per table — identical bites, the
      // remaining debt differs 9× for the unbounded contrast below
      val times = (0 until groups1x / 2).flatMap { _ =>
        val t0 = System.nanoTime()
        val v = ManifestStore.compactSmall(spark, d, schema,
          maxInputBytes = Some(cap))
        val dt = (System.nanoTime() - t0) / 1e9
        v.map(_ => dt)
      }
      val sorted = times.sorted
      // every bounded call may return None (debt already drained, or a
      // conflict abort) — report calls:0 with a null median rather than
      // indexing into an empty sample
      val med = if (sorted.isEmpty) "null" else fmt(sorted(sorted.size / 2))
      println(s"""{"probe":"compact","table":"$name","mode":"bounded",""" +
        s""""total_groups":$g,"files_before":$before,"calls":${times.size},""" +
        s""""per_call_sec":[${times.map(fmt).mkString(",")}],""" +
        s""""median":$med}""")
      val t0 = System.nanoTime()
      ManifestStore.compactSmall(spark, d, schema)
      val dt = (System.nanoTime() - t0) / 1e9
      val left = ManifestStore.currentSnapshot(spark, d).get.files.size
      println(s"""{"probe":"compact","table":"$name","mode":"unbounded",""" +
        s""""sec":${fmt(dt)},"files_after":$left}""")
    }
    spark.stop()
  }
}
