package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit suites: the [[GraftSession]] every
  * main uses, on `local[4]` (tiny data, few shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext

  /** The session is shared across suites, so it stays up. A streaming
    * query a suite leaves running would run on into the next suite: it is
    * stopped here and the suite fails.
    */
  override def afterAll(): Unit = {
    val leaked = spark.streams.active
    leaked.foreach(_.stop())
    if (leaked.nonEmpty) fail("streaming queries left running: " +
      leaked.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
  }

  /** `block`'s value and every QueryExecution it ran, in order — including
    * each `Par.materialize` checkpoint, which is a tracked SQL action, so a
    * plan audit sees the subplans a checkpoint hides behind its RDD scan.
    * Listener events arrive asynchronously but in posting order, so a
    * marker query run after `block` is delivered after all of them.
    */
  def executions[T](block: => T): (T, Seq[QueryExecution]) = {
    val marker = spark.range(1)
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe eq marker.queryExecution) markerSeen.countDown() else seen.add(qe)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = block
      marker.collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "query listener events never arrived")
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `block`'s value and every scheduler event posted while it ran, in
    * order: the jobs it started and its SQL executions among them. A
    * marker job run after `block` is delivered after all of them.
    */
  def events[T](block: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val marker = s"events-marker-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else seen.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = block
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events never arrived")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  def jobsIn(evs: Seq[SparkListenerEvent]): Seq[SparkListenerJobStart] =
    evs.collect { case j: SparkListenerJobStart => j }

  /** The root SQL executions among `evs`: the actions, as perfbench counts them. */
  def rootExecutionsIn(evs: Seq[SparkListenerEvent]): Seq[SparkListenerSQLExecutionStart] =
    evs.collect { case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) => s }
}

object SparkSpec {
  /** Accessor, not a lazy val: the shared context can die UNDER the suites
    * (local-mode Spark stops its context on a fatal executor-thread error —
    * observed once under driver-side resource pressure as a
    * stopped-SparkContext cascade from the first suite unlucky enough to
    * touch it afterwards). `getOrCreate` returns the live session when one
    * exists and builds a fresh one when the previous context is stopped, so
    * one casualty cannot take down every suite scheduled after it. Suites
    * cache `spark` per-instance (the trait's lazy val — `import
    * spark.implicits._` needs a stable identifier), which is safe: a
    * context death mid-suite fails that suite either way; the accessor's
    * job is that the NEXT suite gets a working session.
    */
  def session: SparkSession = synchronized {
    GraftSession.local(4)
  }
}
