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
    val main = sources.filter(_.startsWith(Paths.get("src/main")))
    val hits = for {
      p <- main
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if (line.contains("conf.set") && !line.contains("staticPlanning.conf.set(")) ||
        line.contains("\"spark.graft.")
    } yield s"${p.getFileName}:${i + 1}: ${line.trim}"
    // nor opens parquet through a call that builds a fresh Configuration,
    // which re-parses Hadoop's XML defaults on every call
    val opens = for {
      p <- main
      code = Files.readString(p)
      at <- freshConfCalls(code)
      n = code.take(at).count(_ == '\n')
      line = code.split("\n", -1)(n).trim
      if !line.startsWith("//") && !line.startsWith("*")
    } yield s"${p.getFileName}:${n + 1}: $line"
    assert((hits ++ opens).isEmpty,
      (hits ++ opens).mkString("session conf writes, options or fresh-conf parquet opens:\n", "\n", ""))
  }

  /** Offsets in `code` of `ParquetReader.builder(` and of each
    * `ParquetFileReader.open(` whose argument list closes before a comma at
    * its own depth: the one-argument open.
    */
  private def freshConfCalls(code: String): Seq[Int] = {
    def oneArg(args: Int): Boolean = {
      val depths = code.iterator.drop(args).scanLeft(1) {
        case (d, '(') => d + 1
        case (d, ')') => d - 1
        case (d, _) => d
      }
      depths.zip(code.iterator.drop(args)).collectFirst {
        case (1, ',') => false
        case (1, ')') => true
      }.getOrElse(false)
    }
    def offsets(call: String) =
      Iterator.iterate(code.indexOf(call))(i => code.indexOf(call, i + 1)).takeWhile(_ >= 0).toSeq
    val open = "ParquetFileReader.open("
    offsets("ParquetReader.builder(") ++ offsets(open).filter(at => oneArg(at + open.length))
  }
}
