package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit suites: the [[GraftSession]] every
  * main uses, on `local[4]` (tiny data, few shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext

  override def afterAll(): Unit = () // session shared across suites
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
