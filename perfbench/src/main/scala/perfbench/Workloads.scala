package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed-loop workload: `setup` runs once before timing; `op(i)` is the
  * timed call and returns the rows it processed; `check(i)` verifies op
  * `i`'s result outside the timed window.
  */
trait Workload {
  /** Stop the loop only after a multiple of this many ops. */
  def batch: Int = 1
  def minOps: Int
  def maxOps: Int
  def setup(): Unit
  def op(i: Int, tracer: Tracer): Long
  def check(i: Int): Unit
  /** Runs after op `i` and its check, whether or not they succeeded. */
  def after(i: Int): Unit = ()
  /** On-disk bytes of the state the ops maintain, at the end of the run. */
  def stateBytes: Long
  /** Per-layer sums that only this workload can attribute (per op). */
  def layerSums(opSpans: Seq[Span]): Map[String, Double] = Map.empty
  /** How the per-op trace output names op `i`. */
  def label(i: Int): String = s"op$i"
  /** Extractor runs per op, for the per-run scan counts. */
  def runsPerOp: Int = 0
}

object Workloads {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
  }
}

/** Steady state: both entities hold `rows` records after the initial load
  * (in set-up); each op is one tick of the generator followed by one
  * extract and stage run. Set-up also runs one untimed tick, so the first
  * timed tick does not pay for compiling the incremental code paths, and
  * prepares the input of `maxOps` timed ticks.
  */
final class WmsIncremental(spark: SparkSession, seed: Long, rows: Int, work: Path,
                           val maxOps: Int) extends Workload {
  val minOps = 2
  private val gen = new WmsGen(seed, rows)
  private val src = new WmsSource(spark, gen, work.toString)
  val pipeline = new WmsPipeline(spark, work.toString)
  private val untraced = new Tracer(spark)
  private def runId(k: Int) = f"tick-$k%04d"
  private def runIds(k: Int) = (0 to k).map(runId)
  override val runsPerOp: Int = Entity.all.size
  // op i is tick i + 2: tick 0 is the initial load, tick 1 the untimed one
  private def tick(i: Int) = i + 2

  def setup(): Unit = {
    Main.phase("generate")((1 to tick(maxOps - 1)).foreach(_ => gen.advance()))
    Main.phase("write feed")(src.write(0))
    Main.phase("reference hashes")(src.expectedHash)
    // both are checked by the first op's check, which covers every earlier run
    Main.phase("initial load")(pipeline.run(runId(0), src.feeds(0, untraced, -1), untraced, -1))
    Main.phase("untimed tick")(pipeline.run(runId(1), src.feeds(1, untraced, -1), untraced, -1))
  }

  def op(i: Int, tracer: Tracer): Long = tracer.span("op", i) {
    pipeline.run(runId(tick(i)), src.feeds(tick(i), tracer, i), tracer, i)
  }

  def check(i: Int): Unit = WmsCheck(spark, pipeline, src, tick(i), runIds(tick(i)))

  def stateBytes: Long = Workloads.du(Paths.get(pipeline.stateRoot))
}

/** A first run, or a catch-up after an outage: each op runs the pipeline
  * into fresh landing and state roots, so every generated row is new.
  */
final class WmsBackfill(spark: SparkSession, seed: Long, rows: Int, work: Path,
                        val maxOps: Int) extends Workload {
  val minOps = 3
  private val gen = new WmsGen(seed, rows)
  private val src = new WmsSource(spark, gen, work.toString)
  private val untraced = new Tracer(spark)
  private var lastState = 0L
  override val runsPerOp: Int = Entity.all.size
  private def root(i: Int) = work.resolve(s"run-$i")
  private def runId(i: Int) = f"backfill-$i%04d"

  def setup(): Unit = {
    src.write(0)
    src.expectedHash
    // one untimed run, so the timed runs start warm
    val p = new WmsPipeline(spark, root(-1).toString)
    p.run(runId(-1), src.feeds(0, untraced, -1), untraced, -1)
    WmsCheck(spark, p, src, 0, Seq(runId(-1)))
    Workloads.rmrf(root(-1))
  }

  def op(i: Int, tracer: Tracer): Long = {
    val p = new WmsPipeline(spark, root(i).toString)
    tracer.span("op", i)(p.run(runId(i), src.feeds(0, tracer, i), tracer, i))
  }

  def check(i: Int): Unit = {
    val p = new WmsPipeline(spark, root(i).toString)
    WmsCheck(spark, p, src, 0, Seq(runId(i)))
    lastState = Workloads.du(Paths.get(p.stateRoot))
  }

  override def after(i: Int): Unit = Workloads.rmrf(root(i))

  def stateBytes: Long = lastState
}

/** The read side: every op is one library query at the timed scale, its
  * full result written to the noop sink and fingerprinted. The seed only
  * shuffles the order; a pass runs each query once.
  */
final class QueryLibraryWorkload(spark: SparkSession, seed: Long, names: Seq[String],
                                 expected: Map[String, Fingerprint],
                                 families: Map[String, Seq[String]],
                                 dir: String, warmDir: String, work: Path,
                                 passes: Int,
                                 queries: String => (SparkSession, String) => DataFrame =
                                   graft.SparkEntry.queries) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names)
  override val batch: Int = order.size
  val minOps: Int = order.size
  val maxOps: Int = order.size * passes
  private val got = scala.collection.mutable.Map.empty[Int, Fingerprint]

  def name(i: Int): String = order(i % order.size)
  override def label(i: Int): String = name(i)

  def setup(): Unit = order.foreach { n =>
    Main.phase(s"warm-up $n") {
      try QueryLibrary.run(spark, n, warmDir, queries) catch { case _: Throwable => () }
    }
    QueryLibrary.dropPersisted(spark)
  }

  def op(i: Int, tracer: Tracer): Long = {
    got.remove(i)
    val fp = tracer.span("op", i)(QueryLibrary.run(spark, name(i), dir, queries))
    got(i) = fp
    fp.rows
  }

  override def after(i: Int): Unit = QueryLibrary.dropPersisted(spark)

  def check(i: Int): Unit = {
    val want = expected.getOrElse(name(i),
      throw new IllegalStateException(s"${name(i)}: no recorded fingerprint"))
    if (got(i) != want)
      throw new IllegalStateException(s"${name(i)}: fingerprint ${got(i)}, want $want")
  }

  def stateBytes: Long = Workloads.du(work)

  override def layerSums(opSpans: Seq[Span]): Map[String, Double] = {
    val passes = opSpans.size.toDouble / order.size
    opSpans.flatMap(s => families.getOrElse(name(s.op), Nil).map(_ -> s.seconds))
      .groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / passes }
  }
}
