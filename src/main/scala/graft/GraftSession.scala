package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suites get their
  * session here, so the timed plan (Bench) and the checked plan (Verify)
  * run under identical settings by construction. Each setting is made once,
  * at build time — no library call flips a session-global conf afterwards.
  *
  *  - `GraftExtensions` (native SQL functions, manifest read rewrite) and
  *    the `graft` SQL catalog: both are needed for `graft.`dir`` tables to
  *    plan natively instead of through a Row-boundary V1 scan;
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - session time zone UTC, and tz-naive parquet timestamps read as UTC
  *    instants (LTZ), not TIMESTAMP_NTZ: the engine (unix_micros
  *    arithmetic, RANGE frames, the DuckDB oracles) treats ts as an instant;
  *  - TIMESTAMP(NANOS) parquet columns read as Long nanos, which
  *    `SparkEntry.t` converts to µs timestamps (Spark 4 refuses them
  *    otherwise);
  *  - AQE on, UI off, log level WARN.
  */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else every available processor. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The live session if there is one, else a new `local[cpus]` session. */
  def local(cpus: Int = envCpus): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Debug aid: print every stage that ran longer than 1 s to stderr. */
  def logSlowStages(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (s <- si.submissionTime; e <- si.completionTime) yield e - s
        if (dur.exists(_ > 1000))
          System.err.println(s"[stage] ${si.stageId} " +
            s"'${si.name.takeWhile(_ != '\n').take(60)}' tasks=${si.numTasks} " +
            s"${dur.get / 1000.0}s")
      }
    })
}
