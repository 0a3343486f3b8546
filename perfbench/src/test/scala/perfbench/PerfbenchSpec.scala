package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own guarantees: a failure is never timed, and the timed
  * action computes every column of the result.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work)
  private val data = Paths.get("data").toAbsolutePath

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.rmrf(work)
  }

  private val off = () => new Tracer(spark)

  /** Rewrites a latest table with one row's hash altered: a pipeline that
    * staged a wrong value.
    */
  private def corruptLatestRow(dir: String): Unit = {
    val rows = spark.read.parquet(dir)
    val victim = rows.select(min(col("id"))).first().getString(0)
    rows.withColumn("payload_hash",
        when(col("id") === victim, lit("corrupt")).otherwise(col("payload_hash")))
      .localCheckpoint().write.mode("overwrite").parquet(dir)
  }

  test("a throwing query is reported as failed and its time is dropped") {
    val lib: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(100).toDF("id")),
      "q_throws" -> ((s, _) => s.range(100).select(raise_error(lit("deliberate")).as("x"))))
    val fp = QueryLibrary.run(spark, "q_ok", "", lib)
    val w = new QueryLibraryWorkload(spark, seed = 1, names = lib.keys.toSeq,
      expected = Map("q_ok" -> fp, "q_throws" -> fp), families = Map.empty,
      dir = "", warmDir = "", work = work.resolve("lib"), passes = 1, queries = lib)
    val st = ClosedLoop.run(w, off(), 0, seconds = 0, w.minOps)
    assert(st.attempted == 2)
    assert(st.failed == 1)
    assert(st.ok.map(_._1).map(w.name) == Seq("q_ok"))
    assert(st.errors.exists(_._2.contains("deliberate")))
  }

  test("a wrong query result is reported as failed and its time is dropped") {
    val lib: Map[String, (SparkSession, String) => DataFrame] =
      Map("q_ok" -> ((s, _) => s.range(100).toDF("id")))
    val wrong = QueryLibrary.run(spark, "q_ok", "", lib).copy(rows = 99)
    val w = new QueryLibraryWorkload(spark, seed = 1, names = lib.keys.toSeq,
      expected = Map("q_ok" -> wrong), families = Map.empty,
      dir = "", warmDir = "", work = work.resolve("lib"), passes = 1, queries = lib)
    val st = ClosedLoop.run(w, off(), 0, seconds = 0, w.minOps)
    assert(st.attempted == 1 && st.failed == 1 && st.ok.isEmpty)
  }

  test("a corrupted latest-table row is reported as failed and its time is dropped") {
    val w = new WmsIncremental(spark, seed = 7, rows = 200, work.resolve("wms"), maxOps = 2)
    w.setup()
    val corrupting = new Workload {
      val minOps = 2
      val maxOps = 2
      def setup(): Unit = ()
      def op(i: Int, tracer: Tracer): Long = {
        val n = w.op(i, tracer)
        if (i == 1) corruptLatestRow(w.pipeline.stager.latestDir(Entity.ob.name))
        n
      }
      def check(i: Int): Unit = w.check(i)
      def stateBytes: Long = w.stateBytes
    }
    val st = ClosedLoop.run(corrupting, off(), 0, seconds = 0, corrupting.minOps)
    assert(st.attempted == 2)
    assert(st.failed == 1)
    assert(st.ok.map(_._1) == Seq(0))
    assert(st.errors.exists(_._2.contains("ob_orders latest")))
  }

  test("the timed noop write keeps every output column of the query plan") {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val name = "q110_winnow_fingerprints"
      val dir = data.resolve("sf0.001").toString
      val columns = graft.SparkEntry.queries(name)(spark, dir).queryExecution.analyzed.output.map(_.name)
      QueryLibrary.run(spark, name, dir)
      val write = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(qe => Option(qe).getOrElse(fail("no noop write seen")).optimizedPlan)
        .collectFirst { case w: V2WriteCommand => w }.get
      // after optimization the written plan still produces every column
      // (a count would have let Catalyst prune them)
      assert(write.query.output.map(_.name) == columns)
    } finally spark.listenerManager.unregister(listener)
  }
}
