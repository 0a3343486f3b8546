package graft.functions

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import scala.util.{Failure, Success, Try}

/** Parallelism control for compute-bound operators.
  *
  * A small input (one parquet file, a broadcast-sized dim) arrives in 1-2
  * scan partitions, which serializes CPU-heavy per-row work (shingling,
  * signatures, distance math) onto one core no matter how big the cluster
  * is. Candidate-generation operators therefore round-robin the input across
  * the session's shuffle parallelism first: one cheap exchange of the small
  * side buys full-width execution of the expensive expressions. On a large
  * input the scan already yields many splits and the exchange is noise
  * relative to the operator's own join/agg shuffles.
  */
object Par {
  /** `force = true` skips the stats heuristic and always round-robins to
    * the session parallelism. The verify stages of the near-dup family
    * need this: their input is a candidate-PAIR frame (16 bytes/row — the
    * byte-cheap proxy of guide-§8 shape) whose plan stats are useless in
    * both directions — localCheckpoint leaves carry origin stats, so the
    * join-multiplied estimate reads as terabytes (heuristic says "already
    * wide": no-op) while the actual bytes are KBs that AQE then coalesces
    * to 1-2 partitions, serializing the CPU-heavy array/cosine verify
    * fused on top. The forced exchange costs ∝ pair bytes and buys
    * full-width verification at any scale.
    */
  def spread(df: DataFrame, force: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (force) return df.repartition(n)
    // estimate the scan's split count from logical-plan size stats — NOT
    // df.rdd.getNumPartitions, which compiles the whole physical plan and
    // materializes an RDD lineage that is then thrown away (one extra plan
    // compile per operator invocation). Stats are trusted only when every
    // LEAF has real ones: a stats-less leaf (LogicalRDD — foreachBatch
    // batches, createDataFrame inputs) reports the defaultSizeInBytes
    // sentinel, and comparing the PLAN-level size against the sentinel is
    // not enough — the size visitor scales the leaf sentinel by the
    // projection's row-width ratio, landing below the sentinel while still
    // meaning "unknown". Unknown ⇒ repartition (the operator exists for
    // exactly those small dynamic inputs). Accepted trade-off: a GENUINELY
    // large stats-less input (a big foreachBatch micro-batch) pays one
    // round-robin exchange of its rows it did not need — there is no
    // reliable size signal for a LogicalRDD to guard on, and the
    // alternative (skip when unknown) re-opens the measured 1-2-task
    // serialization of every small dynamic input, which is the common
    // case at every admission site. A caller that KNOWS its input is wide
    // can simply not call spread.
    val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val plan = df.queryExecution.optimizedPlan
    val known = plan.collectLeaves().forall(_.stats.sizeInBytes < sentinel)
    if (known && plan.stats.sizeInBytes / splitBytes >= n) df else df.repartition(n)
  }

  /** Runs the thunks at once, one fresh thread each, and returns their
    * values in order. Fresh threads rather than a pool: a thread inherits
    * the caller's Spark thread-locals when it is created (the active
    * session and the local properties: job group, job tags, scheduler
    * pool), so every job a thunk starts is attributed as the caller's
    * would be. Waits for every thunk; then rethrows the first failure in
    * thunk order, so no thunk is still running when the caller sees it.
    */
  def concurrently[T](thunks: Seq[() => T]): Seq[T] = {
    val out = new Array[Try[T]](thunks.size)
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => out(i) = try Success(f()) catch { case e: Throwable => Failure(e) },
        s"graft-concurrently-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toSeq.map(_.get)
  }

  /** Materialize an expensive, multiply-referenced intermediate (shingle
    * index, MinHash signatures, LSH buckets) exactly once. A self-join over a
    * derived table otherwise recomputes the derivation per join side — at
    * 100 TB that triples the most expensive map stage.
    *
    * An EAGER `localCheckpoint`: it cuts lineage and serves every reference
    * from materialized blocks. The blocks do not survive executor loss —
    * the single-node / static-allocation choice. `level` is the blocks'
    * storage: `MEMORY_AND_DISK` (deserialized, zero read overhead) for
    * blocks re-read many times; `MEMORY_AND_DISK_SER` (compact bytes,
    * bounded GC scanning) for ITERATIVE plans whose checkpoints are large
    * relative to the heap, where deserialized block churn makes stage
    * times heap-state-dependent. [[unpersistAll]] drops the blocks.
    */
  def materialize(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(eager = true, level)

  /** [[materialize]] that PRESERVES the input's physical layout
    * (partitioning + ordering) on the checkpointed scan node. Under AQE,
    * `Dataset.localCheckpoint` captures `UnknownPartitioning` — the
    * adaptive wrapper hides the final plan's partitioning from the
    * capture — so a consumer that could have reused the layout
    * re-shuffles the materialized blocks; for ITERATIVE operators that
    * is one redundant exchange + sort of the big side PER ITERATION.
    * The checkpoint therefore runs on a private clone of the caller's
    * session with AQE off, so the captured `LogicalRDD` carries the
    * hashpartitioning/ordering, which `EnsureRequirements` then satisfies
    * with no new exchange; the `LogicalRDD` is then rebound to the
    * caller's session, whose settings never change. Pass a frame whose
    * plan ends in a width-bearing operator (repartition, window,
    * aggregate): static planning uses the session shuffle width — the
    * scale-adaptive setting, not a local constant.
    */
  def materializeLayout(df: DataFrame,
                        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val caller = df.sparkSession
    val staticPlanning = StreamingShim.cloneSession(caller)
    staticPlanning.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, false) // the clone only
    val ck = materialize(StreamingShim.ofRows(staticPlanning, df.queryExecution.analyzed), level)
    val leaf = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    StreamingShim.ofRows(caller, leaf.copy()(caller.asInstanceOf[classic.SparkSession],
      Some(leaf.stats), Some(leaf.constraints)))
  }

  /** Collect a single-LONG-column frame to the driver ONLY when it is
    * provably small: at most `cap` distinct values (the plan ships
    * `limit(cap+1)`, so the driver never holds more than cap+1 longs —
    * 8 MB at the 2^20 default). `None` when the set exceeds the cap —
    * callers fall back to their full-scan plan. This is the control-plane
    * seam index admission uses to turn a batch's probe keys / candidate
    * ids into FILE-pruning predicates ([[graft.sources.ManifestStore]]
    * `pruneFilesAnyOf`): the collected set is ∝ batch (never ∝ corpus),
    * the same boundedness class as the broadcast the admission semi-join
    * already ships to every executor.
    */
  def collectLongsBounded(df: DataFrame, cap: Int = 1 << 20): Option[Array[Long]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None
    // nulls never survive an equality join, so they carry no pruning
    // information — drop them (an empty survivor set keeps every file
    // downstream, which is the safe direction)
    else Some(rows.filter(!_.isNullAt(0)).map(_.getLong(0)))
  }

  /** Drop every cached RDD in the session — including the blocks of every
    * [[materialize]] checkpoint, which otherwise outlive their operator call
    * (each near-dup/similarity invocation pins its signature tables; a
    * long-lived session accumulates them). `Bench.dropPersisted` calls this
    * between timed queries with `blocking = true` (the next measurement must not
    * race block removal). NOTE: this clears ALL persisted RDDs in the
    * SparkContext, including the caller's own — it is a session-sweep, not
    * a per-operator release.
    */
  def unpersistAll(spark: org.apache.spark.sql.SparkSession,
                   blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  /** Skew-resistant equi-join: a hot join key concentrates all its rows on
    * one reducer in a hash-partitioned join; salting splits each key's rows
    * across `n` reducers and replicates the OTHER side `n` ways so every
    * (key, salt) partition still sees its full match set. Use when one side
    * is too big to broadcast and its key histogram is heavy-tailed — the
    * complement to AQE's skew-join split, which only kicks in for
    * sort-merge joins on materialized shuffle statistics.
    *
    * `skewed` carries the salt (derived from a row id, NOT from the key, so
    * hot keys spread); `compact` is replicated n× — its shuffle volume grows
    * n-fold, so keep `compact` the smaller side and n modest (8-32).
    * Inner/left-outer semantics are preserved; result equals the unsalted
    * join row-for-row.
    */
  def saltedJoin(skewed: DataFrame, compact: DataFrame, keys: Seq[String], n: Int,
                 joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"salting preserves semantics for inner/left joins only, got $joinType")
    val salted = skewed.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(n)).cast("int"))
    val replicated = compact.withColumn("_salt",
      explode(array((0 until n).map(i => lit(i)): _*)))
    salted.join(replicated, keys :+ "_salt", joinType).drop("_salt")
  }
}
