package perfbench

import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.model.Schemas
import graft.operators.StateMachine

/** One WMS entity in the raw API shape the extractor pulls. */
final case class Entity(name: String, schema: StructType, chain: Seq[(String, String)]) {
  private val idx = schema.fieldNames.zipWithIndex.toMap
  def at(field: String): Int = idx(field)
  def terminal: Set[String] = Set("CANCELLED", chain.last._2)
}

object Entity {
  val ib = Entity("ib_receipts", Schemas.ibReceipt, StateMachine.ibChain)
  val ob = Entity("ob_orders", Schemas.obOrder, StateMachine.obChain)
  val all: Seq[Entity] = Seq(ib, ob)
}

/** Seeded source system for the two reference entities.
  *
  * Tick 0 is the initial snapshot: `rows` records per entity with 1–5
  * `lines` each and string timestamps, as the mock API serves them. Every
  * later tick moves `Churn` of the non-terminal records one step along
  * their [[StateMachine]] chain (or, with probability `CancelProb`, to
  * CANCELLED), applies the chain's side effects and bumps `updated_at`
  * into that tick's day. The same seed gives the same rows; all state is
  * in driver memory, so the program sees only the rows themselves.
  */
final class WmsGen(seed: Long, rows: Int) {
  private val Churn = 0.02
  private val CancelProb = 0.05
  private val rnd = new scala.util.Random(seed)
  private val base = Instant.parse("2024-01-01T00:00:00Z")

  private val current: Map[Entity, Array[Row]] =
    Entity.all.map(e => e -> Array.tabulate(rows)(i => initial(e, i))).toMap
  private val changes = mutable.ArrayBuffer.empty[Map[Entity, Seq[Row]]]
  changes += current.map { case (e, rs) => e -> rs.toSeq }

  /** Rows each tick delivered: tick 0 is the initial snapshot. */
  def tick(k: Int): Map[Entity, Seq[Row]] = changes(k)
  def ticks: Int = changes.size

  /** Latest version of every record after tick `k`. */
  def snapshot(e: Entity, k: Int): Map[String, Row] = {
    val m = mutable.HashMap.empty[String, Row]
    (0 to k).foreach(t => changes(t)(e).foreach(r => m(r.getString(0)) = r))
    m.toMap
  }

  /** Distinct versions generated up to tick `k`. */
  def versions(e: Entity, k: Int): Long = (0 to k).map(changes(_)(e).size.toLong).sum

  def maxUpdatedAt(e: Entity, k: Int): Instant =
    (0 to k).flatMap(changes(_)(e)).map(r => Instant.parse(r.getString(e.at("updated_at")))).max

  private def ts(day: Int): String =
    base.plusSeconds(day * 86400L + rnd.nextInt(86400)).toString
  private def date(day: Int): String = base.plusSeconds(day * 86400L).toString.take(10)
  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def initial(e: Entity, i: Int): Row = {
    val states = e.chain.map(_._1)
    val status = pick(states)
    val nLines = 1 + rnd.nextInt(5)
    val created = ts(0)
    if (e == Entity.ib) {
      val lines = (1 to nLines).map { l =>
        val exp = 1L + rnd.nextInt(200)
        Row(s"$i-$l", rnd.nextInt(5000).toLong, s"SKU-${rnd.nextInt(5000)}",
          1L + rnd.nextInt(3), exp, if (status == "NEW") 0L else rnd.nextLong(exp + 1))
      }
      Row(f"ib-$seed%d-$i%07d", f"PO-$i%07d", date(0), status,
        if (rnd.nextInt(4) == 0) s"note ${rnd.nextInt(1000)}" else null,
        s"user-${rnd.nextInt(50)}", s"Contact ${rnd.nextInt(10000)}",
        f"+84${rnd.nextInt(1000000000)}%09d", 1L + rnd.nextInt(20), 1L + rnd.nextInt(8),
        s"user-${rnd.nextInt(50)}", created, s"user-${rnd.nextInt(50)}", created, null, lines)
    } else {
      val lines = (1 to nLines).map { l =>
        Row(s"$i-$l", rnd.nextInt(5000).toLong, s"SKU-${rnd.nextInt(5000)}", 1L + rnd.nextInt(50))
      }
      val total = math.round(rnd.nextDouble() * 1e6) / 100.0
      Row(f"ob-$seed%d-$i%07d", f"SO-$i%07d", date(3), null,
        1L + rnd.nextInt(100000), 1L + rnd.nextInt(100000), total, null,
        if (rnd.nextInt(4) == 0) s"note ${rnd.nextInt(1000)}" else null,
        1L + rnd.nextInt(20), 1L + rnd.nextInt(8), status,
        if (rnd.nextBoolean()) total else 0.0, math.round(rnd.nextDouble() * 5e4) / 100.0,
        math.round(rnd.nextDouble() * 1e4) / 100.0,
        s"user-${rnd.nextInt(50)}", created, s"user-${rnd.nextInt(50)}", created, lines)
    }
  }

  /** Generates the next tick's change set. */
  def advance(): Unit = {
    val day = changes.size
    changes += Entity.all.map { e =>
      val rs = current(e)
      val open = rs.indices.filterNot(i => e.terminal(rs(i).getString(e.at("status"))))
      val n = math.min(open.size, math.max(1, math.round(rows * Churn).toInt))
      val chosen = rnd.shuffle(open).take(n).sorted
      e -> chosen.map { i =>
        val next = step(e, rs(i), day)
        rs(i) = next
        next
      }
    }.toMap
  }

  private def step(e: Entity, r: Row, day: Int): Row = {
    val v = r.toSeq.toArray
    val status = r.getString(e.at("status"))
    val next =
      if (rnd.nextDouble() < CancelProb) "CANCELLED"
      else e.chain.find(_._1 == status).map(_._2).getOrElse(status)
    val now = ts(day)
    v(e.at("status")) = next
    v(e.at("updated_at")) = now
    v(e.at("updated_by")) = s"user-${rnd.nextInt(50)}"
    if (e == Entity.ib) {
      val lines = r.getSeq[Row](e.at("lines"))
      if (next == "PROCESSING")
        v(e.at("lines")) = lines.map { l =>
          val exp = l.getLong(4)
          Row(l.get(0), l.get(1), l.get(2), l.get(3), exp, rnd.nextLong(exp + 1))
        }
      else if (next == "FINISHED") {
        v(e.at("lines")) = lines.map(l => Row(l.get(0), l.get(1), l.get(2), l.get(3), l.get(4), l.get(4)))
        v(e.at("finished_at")) = now
      }
    } else if (next == "PACKED") {
      v(e.at("actual_amount")) = r.get(e.at("total_amount"))
      v(e.at("actual_delivery_date")) = now.take(10)
    }
    Row.fromSeq(v.toSeq)
  }
}
