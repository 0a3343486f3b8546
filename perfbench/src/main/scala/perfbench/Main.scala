package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The repository's benchmark: one workload per process.
  *
  * {{{
  * perfbench.Main --workload wms_incremental|wms_backfill|query_library
  *   --seed N --seconds S --trace 0|1 --work DIR --data DIR [--out FILE]
  * perfbench.Main --record 1 --data DIR --work DIR   (re-records DIR/queries.json)
  * }}}
  *
  * Prints `[perfbench]` detail lines, then one JSON line: `correct`,
  * `attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
  * end-to-end ones; with `--trace 1` ops alternate untraced and traced, and
  * the run reports the per-layer metrics of the traced ops plus the
  * tracing overhead.
  */
object Main {
  /** Workload sizes. The WMS state is `WmsRows` records per entity. */
  val WmsRows = 10000
  /** Ticks set-up prepares for `wms_incremental`: the four a traced run
    * needs ([[tracedOps]]); an untraced run of 20 s times two of them.
    */
  val WmsTicks = 4
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs one set-up phase, logging its seconds to stderr. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name%s: ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Array[String]): Args = Args(a.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad argument: ${other.mkString(" ")}")
  }.toMap)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = Paths.get(args("work")).toAbsolutePath
    val data = Paths.get(args("data")).toAbsolutePath
    Files.createDirectories(work)
    if (args.get("record").contains("1")) record(work, data) else bench(args, work, data)
  }

  /** Ops a traced run needs to complete one untraced, traced, traced,
    * untraced order of batches.
    */
  def tracedOps(w: Workload): Int = math.max(4 * w.batch, w.minOps + 1)

  def bench(args: Args, work: Path, data: Path): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val t0 = System.nanoTime()
    val spark = phase("session")(session(work))
    val w: Workload = workload match {
      case "wms_incremental" =>
        new WmsIncremental(spark, seed, WmsRows, work.resolve("wms"), maxOps = WmsTicks)
      case "wms_backfill" =>
        new WmsBackfill(spark, seed, WmsRows, work.resolve("wms"), maxOps = 200)
      case "query_library" =>
        val lib = Library.load(data.resolve("queries.json"))
        new QueryLibraryWorkload(spark, seed, lib.names, lib.fingerprints, lib.families,
          data.resolve("sf0.01").toString, data.resolve("sf0.001").toString,
          work.resolve("tmp"), passes = 50)
      case other => sys.error(s"unknown workload: $other")
    }
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    val result = if (!trace) {
      Report.endToEnd(workload, ClosedLoop.run(w, tracer, 0, seconds, w.minOps), setupS, w)
    } else {
      // batches of ops run untraced, traced, traced, untraced, so both
      // halves are about equally warm; their difference is the overhead
      val isTraced = (i: Int) => Set(1, 2)((i / w.batch) % 4)
      val st = ClosedLoop.run(w, tracer, 0, seconds, tracedOps(w), isTraced)
      args.get("out").foreach(f => Report.writeSpans(Paths.get(f), tracer))
      Report.perLayer(workload, st.filter(!isTraced(_)), st.filter(isTraced), tracer, w)
    }
    spark.stop()
    println(result)
  }

  /** Re-records the fingerprint of every query in `data/queries.json` at
    * the timed scale. Run it only on a tree where `tools/check.py --strict`
    * passes.
    */
  def record(work: Path, data: Path): Unit = {
    val spark = session(work)
    val file = data.resolve("queries.json")
    Library.record(file, n => try QueryLibrary.run(spark, n, data.resolve("sf0.01").toString)
      finally QueryLibrary.dropPersisted(spark))
    spark.stop()
  }
}
