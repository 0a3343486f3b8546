package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query seconds over
  * `SparkEntry.queries` at `SPARK_GRAFT_SF_DIR`.
  *
  * Each query is first executed once against the tiny sf0.001 data to warm
  * JIT/codegen for its plan shape, then timed at the target scale factor —
  * so the recorded number measures the operator, not JVM warmup. Queries run
  * in name order for run-to-run comparability. A query whose timed run
  * throws gets no time: it is listed in the line's `errors` map (name →
  * message) instead, and `tools/bench_gate.py` fails on it.
  *
  * Persisted blocks (localCheckpoints from Par.materialize, SQL cache) are
  * dropped after every query: 33 queries × 2 executions otherwise accumulate
  * checkpoint blocks in one session until the block manager evicts/spills and
  * late queries measure memory pressure instead of their plan (round-1 bench
  * showed q22/q24 at 60 s that run in <2 s isolated).
  */
object Bench {
  private def dropPersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking: the next timed query must not race block removal; gc: pay
    // accumulated allocation debt between queries, not inside a timed run
    graft.functions.Par.unpersistAll(spark, blocking = true)
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated query-name subset (debug bisection)
    val subset = args.headOption.map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    // SPARK_GRAFT_STAGES=1: per-stage timings >1s on stderr (debug)
    if (sys.env.contains("SPARK_GRAFT_STAGES")) GraftSession.logSlowStages(spark)
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .map { case (name, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      dropPersisted(spark)
      // MEDIAN of 3 timed executions = steady-state plan cost, with the
      // per-query [min, med, max] SPREAD reported alongside: on this
      // shared box single-shot timings drift ±20% (and occasionally 2×)
      // with no plan change — the spread is what lets a reader classify
      // a cross-round delta as noise (bands overlap) vs regression
      // (bands disjoint) without re-running
      val samples = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        val error = try { fn(spark, sfDir).count(); None } catch { case e: Throwable => Some(e) }
        val d = (System.nanoTime() - t0) / 1e9
        dropPersisted(spark)
        // debug flag: per-sample seconds IN EXECUTION ORDER (the reported
        // spread is sorted, which hides whether a slow sample was the
        // cold first or a mid-session spike)
        if (sys.env.contains("SPARK_GRAFT_STAGES"))
          System.err.println(f"[sample] $name #$i $d%.4f")
        error.toLeft(d)
      }
      name -> samples
    }
    val errors = runs.flatMap { case (k, rs) => rs.collectFirst { case Left(e) => k -> e } }
    val results = runs.collect { case (k, rs) if rs.forall(_.isRight) =>
      k -> rs.collect { case Right(d) => d }.sorted }
    // 4-decimal seconds: 0.1 ms grain is far below shared-box noise and
    // keeps the 140-query line ~25% shorter — less likely to fall off a
    // bounded stdout capture
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def med(ss: Seq[Double]): Double = ss(ss.size / 2)
    val qs = results.map { case (k, ss) => s"\"" + k + "\":" + fmt(med(ss)) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, ss) =>
      s"\"" + k + "\":[" + fmt(ss.head) + "," + fmt(ss.last) + "]" }
      .mkString("{", ",", "}")
    // an error's first line only: Spark messages can carry a whole plan
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val errs = errors.map { case (k, e) =>
      s"\"" + k + "\":" + json.writeValueAsString(e.toString.linesIterator.next().take(500)) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(r => med(r._2)).sum else 0.0
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""spread":$spread,"errors":$errs,"sf":"$sfDir"}"""
    // the full map also goes to a file: the driver captures a bounded stdout
    // TAIL, which truncated the single giant line in rounds 3–4 (BENCH_r04
    // arrived `parsed: null` with 58 of 119 queries lost). The file is the
    // complete artifact; stdout stays for the driver's line capture.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line)
    catch { case _: Throwable => () } // read-only cwd must not fail the bench
    // stdout is exactly these lines, full map FIRST and compact total
    // LAST: a head-bounded capture parses line 1, a tail-bounded capture
    // parses the final line (which names the on-disk complete artifact).
    // Spark logs all go to stderr, so neither line can be buried.
    println(line)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"queries_file":"bench_out.json"}""")
    spark.stop()
  }
}
