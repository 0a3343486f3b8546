package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session factory. The shared test session is built by
  * [[GraftSession.local]], so the settings checked here are the ones every
  * main runs under; the source scans keep it the only builder and keep
  * library code free of session conf writes and run-time options.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.local: extensions, catalog, UTC, no NTZ inference, AQE, nanos, cpus partitions") {
    assert(spark.sql("SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>), " +
      "CAST(array(2.0, 0.0) AS ARRAY<DOUBLE>))").head().getDouble(0) == 1.0)
    assert(spark.sessionState.catalogManager.catalog("graft")
      .isInstanceOf[graft.sources.GraftCatalog])
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("no other session builder under src/; SparkEntry sets no conf") {
    val builder = "SparkSession" + ".builder" // split: this file must not match
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builders = sources.filter(p => Files.readString(p).contains(builder))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"), s"session builders in: $builders")
    // no library code (SparkEntry included) sets session conf or reads a
    // spark.graft.* option; the one conf write under src/main is to the
    // private session clone Par.materializeLayout checkpoints on, never to
    // the caller's session (PlanAuditSpec's pagerank pin watches it)
    val hits = for {
      p <- sources.filter(_.startsWith(Paths.get("src/main")))
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if (line.contains("conf.set") && !line.contains("staticPlanning.conf.set(")) ||
        line.contains("\"spark.graft.")
    } yield s"${p.getFileName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("session conf writes or options:\n", "\n", ""))
  }
}
