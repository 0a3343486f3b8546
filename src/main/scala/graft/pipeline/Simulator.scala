package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.StateMachine

/** Deterministic re-implementation of the mock source's mutation simulator
  * (reference M-5, `services/mock_wms_api/app/main.py:255-314`): advance a
  * sample of rows one step through their status state machine, with a 5%
  * cancellation probability, bumping `updated_at`/`updated_by`; inbound
  * receipts fill `actual_qty` toward `expected_qty` while PROCESSING and
  * snap it (plus `finished_at`) on FINISHED; outbound orders snap
  * `actual_amount`/`actual_delivery_date` on PACKED (`main.py:310-312`).
  *
  * Randomness is a pure function of (id, tick) via xxhash64 — the generator
  * is reproducible, distributed-safe (no driver RNG state), and usable as a
  * streaming fixture source.
  */
object Simulator {

  private def rand01(tick: Int, salt: String): Column =
    pmod(xxhash64(col("id"), lit(tick), lit(salt)), lit(1000000L)).cast("double") / 1000000.0

  /** One simulation tick over an IB/OB entity table. `sampleFraction` of
    * non-terminal rows mutate (`n_changes` sampling in the reference);
    * `cancelProb` matches the reference's 5%.
    */
  def tick(df: DataFrame, chain: Seq[(String, String)], tick: Int,
           tickTime: Column, sampleFraction: Double = 0.3,
           cancelProb: Double = 0.05): DataFrame = {
    val terminal = Seq("CANCELLED", chain.last._2)
    val selected = !col("status").isInCollection(terminal) &&
      rand01(tick, "sample") < sampleFraction
    val cancelled = rand01(tick, "cancel") < cancelProb
    val nextStatus = when(!selected, col("status"))
      .when(cancelled, lit("CANCELLED"))
      .otherwise(StateMachine.nextStatus(col("status"), chain))
    df.withColumn("_next_status", nextStatus)
      .withColumn("updated_at",
        when(col("_next_status") =!= col("status"), tickTime).otherwise(col("updated_at")))
      .withColumn("updated_by",
        when(col("_next_status") =!= col("status"), lit(s"simulator-$tick"))
          .otherwise(col("updated_by")))
      .withColumn("status", col("_next_status"))
      .drop("_next_status")
  }
}
