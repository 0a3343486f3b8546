package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge semantics of the staging store (reference O-11/O-12;
  * `services/staging/app/staging_repo.py:25-99`).
  *
  * The reference implements these as Postgres `INSERT ... ON CONFLICT`;
  * relationally they are a left-anti join (history set-insert) and a
  * newer-wins full merge (latest upsert), which is exactly how we plan them.
  *
  * Scale notes: both are single-shuffle joins on the merge key. For the
  * history append the existing side should be pruned to the incoming key
  * range first (partition pruning on `updated_at` date when history is
  * date-partitioned) so the anti-join never scans cold history; with AQE on,
  * a small incoming batch turns the anti-join into a broadcast.
  */
object Merge {

  /** O-11 — history append with idempotent dedup
    * (`staging_repo.py:25-58`, conflict key `(id, updated_at, payload_hash)`
    * per `sql/init_dw.sql:39`). Returns only the rows that are NOT already in
    * history — re-running the same batch yields 0 rows, the reference's
    * `ON CONFLICT DO NOTHING` idempotence (proven by
    * `tests/integration/staging/test_staging_repo.py:7-27`).
    *
    * The incoming batch is first deduped on the conflict key (a multi-row
    * batch with an internal duplicate must insert once, like executemany
    * against a PK), then anti-joined against existing history.
    */
  def historyDelta(history: DataFrame, batch: DataFrame,
                   keys: Seq[String] = Seq("id", "updated_at", "payload_hash")): DataFrame = {
    val batchDeduped = Dedup.keepLast(batch, keys)
    batchDeduped.join(history.select(keys.map(col): _*), keys, "left_anti")
  }

  /** [[historyDelta]] with a bloom semi-join reduction of the HISTORY side.
    * The anti-join only needs history rows whose key might match the
    * incoming batch — every other history row cannot affect the result —
    * so a bloom filter built from the (small) batch's keys pre-filters the
    * (huge) history scan map-side before the exact anti-join. False
    * positives just pass through to the join; false negatives cannot occur,
    * so the result is row-identical to [[historyDelta]].
    *
    * At 100 TB this is the difference between shuffling the full history
    * key set and shuffling ~|batch| history rows: the bloom is built from
    * the batch (one aggregate job, sized by `expectedItems`/`fpp` — ~1.1 MB
    * per million keys at 3%), rides to executors inside the filter
    * expression, and prunes at scan speed inside whole-stage codegen. Build
    * the sketch from whichever side is small; for daily-batch-vs-history
    * that is always the batch.
    */
  def historyDeltaBloom(history: DataFrame, batch: DataFrame,
                        keys: Seq[String] = Seq("id", "updated_at", "payload_hash"),
                        expectedItems: Long = 1000000L,
                        fpp: Double = 0.03): DataFrame = {
    val batchDeduped = Dedup.keepLast(batch, keys)
    val keyHash: Column = xxhash64(keys.map(col): _*)
    val bf = batchDeduped.stat.bloomFilter(keyHash, expectedItems, fpp)
    val prunedHistory = history.select(keys.map(col): _*)
      .filter(graft.plans.GraftFunctions.bloomMightContain(history, keyHash, bf))
    batchDeduped.join(prunedHistory, keys, "left_anti")
  }

  /** O-12 — latest-state upsert, newer-wins type-1 merge
    * (`staging_repo.py:62-99`; guard `WHERE excluded.updated_at >
    * current.updated_at` at line 89). Strict `>`: on an `updated_at` tie the
    * EXISTING row survives (proven by `test_staging_repo.py:29-73`), hence
    * the `_is_existing` tiebreak column.
    *
    * Implemented as union + `max_by` over `struct(versionCol, _is_existing)`
    * — a partially-aggregable single-shuffle plan (map-side combine reduces
    * each side to one candidate per key per partition before the exchange).
    */
  def latestUpsert(existing: DataFrame, incoming: DataFrame,
                   key: String = "id", versionCol: String = "updated_at"): DataFrame = {
    val cols = existing.columns.toSeq
    require(cols.sorted == incoming.columns.toSeq.sorted,
      s"schema mismatch: ${cols.mkString(",")} vs ${incoming.columns.mkString(",")}")
    // Incoming batches can carry several versions of one id; collapse to the
    // newest first (latest-arriving wins exact ties, as in O-9). Arrival
    // order is captured BEFORE the collapse's shuffle and appended as the
    // final tiebreak — ordering by versionCol alone is a partial order, and
    // row_number over a partial order picks a nondeterministic survivor.
    val incomingLatest = Dedup.keepLast(Dedup.withArrivalOrder(incoming), Seq(key),
        ordering = Seq(col(versionCol), col("_arrival")))
      .drop("_arrival")
    val tagged = existing.select(cols.map(col): _*).withColumn("_is_existing", lit(1))
      .unionByName(incomingLatest.select(cols.map(col): _*).withColumn("_is_existing", lit(0)))
    val ord = struct(col(versionCol), col("_is_existing"))
    Dedup.keepLastAgg(tagged, Seq(key), ord).drop("_is_existing")
      .select(cols.map(col): _*)
  }

  /** One staging pass over `batch` (O-11 + O-12 together): the batch with
    * two Boolean flags, so a caller can materialize it once and take the
    * history rows, the latest-table winners and every count from it.
    *
    *  - `_new_hist`: the row [[historyDelta]]`(history, batch)` returns — the
    *    last-arriving row of its `(id, updated_at, payload_hash)` group,
    *    absent from `history`.
    *  - `_wins`: the row [[latestUpsert]]`(existing, batch)` takes from the
    *    batch — the newest row of its id by `(versionCol, arrival)`, whose id
    *    is new or whose version is strictly newer than the existing one
    *    (null versions sort lowest; a tie keeps the existing row).
    *
    * Both flags are computed over ONE scan of the batch and one exchange
    * of it; `existing` is reduced to `(key, version)` and `history` to its
    * conflict keys, each joined without a shuffle of its own when
    * broadcastable. Rows are `batch`'s columns plus the two flags.
    */
  def withStageFlags(history: DataFrame, existing: DataFrame, batch: DataFrame,
                     key: String = "id", versionCol: String = "updated_at",
                     histKeys: Seq[String] = Seq("id", "updated_at", "payload_hash")): DataFrame = {
    val cols = batch.columns.toSeq.map(col)
    val seen = history.select(histKeys.map(col): _*).withColumn("_in_hist", lit(true))
    val ex = existing.select(col(key).as("_ex_key"), col(versionCol).as("_ex_ver"),
      lit(true).as("_ex"))
    // the newest row per key by (version, arrival); struct order puts null
    // versions lowest, as latestUpsert's does
    val rank = struct(col(versionCol), col("_arrival"))
    val v = col(versionCol)
    Dedup.withArrivalOrder(batch)
      // a key repeated in history repeats its batch row; the copies share
      // `_arrival`, get the same flags, and all but one are dropped below
      .join(seen, histKeys, "left_outer")
      .withColumn("_newest", rank <=> max(rank).over(Window.partitionBy(col(key))))
      .withColumn("_last", col("_arrival") ===
        max(col("_arrival")).over(Window.partitionBy(histKeys.map(col): _*)))
      .withColumn("_copy", row_number().over(
        Window.partitionBy(col(key), col("_arrival")).orderBy(col("_arrival"))))
      .filter(col("_copy") === 1)
      .join(ex, col(key) === col("_ex_key"), "left_outer")
      .select(cols :+
        (col("_last") && col("_in_hist").isNull).as("_new_hist") :+
        (col("_newest") && (col("_ex").isNull ||
          (v.isNotNull && (col("_ex_ver").isNull || v > col("_ex_ver"))))).as("_wins"): _*)
  }

  /** The latest table after an upsert whose winning rows are `winners`
    * (the `_wins` rows of [[withStageFlags]], at most one per key):
    * `existing` minus the winners' keys, plus the winners. The winners'
    * keys are broadcast, so the plan is map-only over `existing` — no
    * shuffle of the table, whatever its size.
    */
  def applyWinners(existing: DataFrame, winners: DataFrame, key: String = "id"): DataFrame =
    existing.join(broadcast(winners.select(col(key))), Seq(key), "left_anti")
      .unionByName(winners.select(existing.columns.toSeq.map(col): _*))

  /** SCD type-2 history build — the interval form of the latest-upsert
    * dimension: per key, each CHANGE of the tracked attribute opens a new
    * version row `[valid_from, valid_to)`, the open version has a null
    * `valid_to` and `is_current = true`. Consecutive observations with an
    * unchanged attribute collapse into one version (change detection is
    * null-safe, so null→null is "no change" and null→value is a change).
    * `tieCol` breaks same-timestamp observations into a total order, the
    * same discipline as [[Dedup.keepLast]].
    *
    * Scale: both window passes — the change-detect lag over raw
    * observations and the interval-closing lead over the (much smaller)
    * change rows — partition AND order identically on (key, ts, tie), so
    * Catalyst plans ONE exchange + sort and reuses it; the operator costs
    * a single shuffle of the observation stream regardless of history
    * depth. No driver state, no per-key iteration.
    */
  def scd2Build(obs: DataFrame, keyCol: String, attrCol: String,
                tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changes = obs
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      .filter(col("_first") || !(col("_prev") <=> col(attrCol)))
    changes
      .select(col(keyCol), col(attrCol), col(tsCol).as("valid_from"), col(tieCol))
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(col(keyCol)).orderBy(col("valid_from"), col(tieCol))))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tieCol)
  }

  /** Snapshot-over-snapshot diff — the crawl-delta audit: every id labeled
    * `added` / `removed` / `changed` / `unchanged` between two corpus
    * snapshots. Content equality is null-safe (`<=>`; two null payloads
    * are `unchanged`).
    *
    * Scale: content is reduced to its md5 BEFORE the join, so the
    * id-keyed full-outer shuffle carries 32-byte digests instead of
    * document bodies — at 100 TB that is the difference between shuffling
    * the corpus twice and shuffling its fingerprint. md5(null) is null,
    * so the null-safe compare still distinguishes "absent" from "null
    * content present".
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, contentCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("_id"), md5(col(contentCol)).as("_old"),
      lit(true).as("_in_old"))
    val n = newSnap.select(col(idCol).as("_id"), md5(col(contentCol)).as("_new"),
      lit(true).as("_in_new"))
    o.join(n, Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(col("_old") <=> col("_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
