package cdcbench

import java.time.Instant

import scala.collection.mutable

/** A live row of the replicated table as the model holds it; the business
  * timestamp is kept as epoch microseconds. */
final case class Rec(customer: String, event: String, sku: String, amount: Int,
    device: String, transDtMicros: Long)

/** The reference state of the replicated table, computed in plain Scala with
  * no Spark and no engine code. Each batch is folded by keeping, per key, the
  * record with the greatest (timestamp, transaction-id); a record whose
  * timestamp does not parse ranks below every record whose timestamp does. If
  * the kept record is a delete the key is removed, otherwise its row replaces
  * the stored one. */
final class Model {
  val rows: mutable.LongMap[Rec] = mutable.LongMap.empty[Rec]

  /** Folds one batch; returns the keys it left live and the keys it removed. */
  def fold(batch: Seq[Change]): (Seq[Long], Seq[Long]) = {
    val latest = mutable.LongMap.empty[(Option[Long], Change)]
    batch.foreach { c =>
      val ts = Model.instantMicros(c.ts)
      latest.get(c.key) match {
        case Some((pts, p)) if !Model.ranksAbove(ts, c.txn, pts, p.txn) =>
        case _ => latest(c.key) = (ts, c)
      }
    }
    val kept = mutable.ArrayBuffer.empty[Long]
    val removed = mutable.ArrayBuffer.empty[Long]
    latest.foreach { case (k, (_, c)) =>
      if (c.op == "delete") { if (rows.remove(k).isDefined) removed += k }
      else {
        rows(k) = Rec(c.customer, c.event, c.sku, c.amount, c.device,
          Model.instantMicros(c.transDt).get)
        kept += k
      }
    }
    (kept.toSeq.sorted, removed.toSeq.sorted)
  }

  /** event → (SUM(amount), COUNT(*)) over the live rows. */
  def aggregate: Map[String, (Long, Long)] = {
    val acc = mutable.HashMap.empty[String, (Long, Long)]
    rows.valuesIterator.foreach { r =>
      val (s, n) = acc.getOrElse(r.event, (0L, 0L))
      acc(r.event) = (s + r.amount, n + 1)
    }
    acc.toMap
  }
}

object Model {
  /** Epoch µs of an ISO-8601 instant, or None when it does not parse (the
    * reference fixture's hour-29 timestamp). */
  def instantMicros(s: String): Option[Long] =
    try {
      val i = Instant.parse(s)
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    } catch { case _: java.time.format.DateTimeParseException => None }

  /** (ts, txn) ordering with an unparseable timestamp ranking lowest. */
  def ranksAbove(ts: Option[Long], txn: Long, otherTs: Option[Long], otherTxn: Long): Boolean =
    (ts, otherTs) match {
      case (Some(a), Some(b)) => a > b || (a == b && txn > otherTxn)
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case (None, None) => txn > otherTxn
    }

  private val Field = "\"([a-z_-]+)\":\\s*(\"[^\"]*\"|-?[0-9]+)".r

  /** Reads one flat DMS envelope line (the reference wire shape) back into a
    * [[Change]]; used to replay the reference's golden scenarios. */
  def parseLine(line: String): Change = {
    val f = Field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
    Change(f("trans_id").toLong, f("customer_id"), f("event"), f("sku"), f("amount").toInt,
      f("device"), f("trans_datetime"), f("timestamp"), f("operation"), f("transaction-id").toLong)
  }

  /** Replays the reference's two golden scenarios (FIXTURES.md A.2) and checks
    * the end state: keys {19,21,24,27,28,30,35,37,38,41,43,47}, with amounts
    * 39, 60, 42, 67, 85 on keys 19, 21, 24, 30, 35. Returns the problems found. */
  def selfCheck(scenario1: Seq[String], scenario2: Seq[String]): Seq[String] = {
    val m = new Model
    m.fold(scenario1.map(parseLine))
    m.fold(scenario2.map(parseLine))
    val keys = Seq(19L, 21L, 24L, 27L, 28L, 30L, 35L, 37L, 38L, 41L, 43L, 47L)
    val amounts = Map(19L -> 39, 21L -> 60, 24L -> 42, 30L -> 67, 35L -> 85)
    val got = m.rows.keys.toSeq.sorted
    (if (got != keys) Seq(s"golden keys: expected $keys, got $got") else Nil) ++
      amounts.toSeq.sorted.flatMap { case (k, a) =>
        val g = m.rows.get(k).map(_.amount)
        if (g.contains(a)) None else Some(s"golden amount of key $k: expected $a, got $g")
      }
  }
}
