package cdcbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One DMS change record: the `data` row plus the metadata fields the
  * pipeline reads. `ts` and `transDt` are kept as the wire strings. */
final case class Change(key: Long, customer: String, event: String, sku: String,
    amount: Int, device: String, transDt: String, ts: String, op: String, txn: Long)

object Gen {
  val Events: Array[String] = Array("visit", "view", "cart", "list", "like", "purchase")
  val Devices: Array[String] = Array("pc", "mobile", "tablet")
  /** 2023-01-16T00:00:00Z, the day of the reference fixtures, in µs. */
  val Epoch0Micros: Long = 1673827200L * 1000000L

  /** The reference's `json-unformatted` DMS envelope, one object per line. */
  def json(c: Change): String =
    s"""{"data": {"trans_id": ${c.key}, "customer_id": "${c.customer}", "event": "${c.event}", "sku": "${c.sku}", "amount": ${c.amount}, "device": "${c.device}", "trans_datetime": "${c.transDt}"}, """ +
      s""""metadata": {"timestamp": "${c.ts}", "record-type": "data", "operation": "${c.op}", "partition-key-type": "primary-key", "schema-name": "testdb", "table-name": "retail_trans", "transaction-id": ${c.txn}}}"""

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  /** `yyyy-MM-ddTHH:mm:ss.ffffffZ`, the DMS metadata timestamp shape. */
  def fmtMicros(micros: Long): String = {
    val t = LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0, ZoneOffset.UTC)
    val frac = (Math.floorMod(micros, 1000000L) + 1000000L).toString.substring(1)
    s"${t.getYear}-${two(t.getMonthValue)}-${two(t.getDayOfMonth)}T${two(t.getHour)}:" +
      s"${two(t.getMinute)}:${two(t.getSecond)}.${frac}Z"
  }

  /** `yyyy-MM-ddTHH:mm:ssZ`, the business timestamp shape. */
  def fmtSeconds(sec: Long): String = {
    val t = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
    s"${t.getYear}-${two(t.getMonthValue)}-${two(t.getDayOfMonth)}T${two(t.getHour)}:" +
      s"${two(t.getMinute)}:${two(t.getSecond)}Z"
  }

  /** The reference fixture's dirty timestamp: the hour field set to 29. */
  def invalidHour(ts: String): String = ts.substring(0, 11) + "29" + ts.substring(13)
}

/** Seeded source of change records. Keys are even (`2 * n`), so every odd key
  * inside the key range is a key that was never inserted. The metadata clock
  * and the transaction id only move forward, except where a batch asks for a
  * timestamp tie (see [[Gen#tieWith]]). The same seed gives the same records. */
final class Gen(seed: Long) {
  import Gen._
  private val rng = new SplittableRandom(seed)
  private var clock = Epoch0Micros
  private var txnCounter = 12884901888L
  private var nextIndex = 1L

  /** Live keys as the generator believes them to be (for sampling only: the
    * model, not this set, is the reference for checks). */
  private val live = ArrayBuffer.empty[Long]
  private val livePos = scala.collection.mutable.LongMap.empty[Int]

  def random: SplittableRandom = rng

  private def nextTs(): String = { clock += 1 + rng.nextInt(3000); fmtMicros(clock) }
  private def nextTxn(): Long = { txnCounter += 2; txnCounter }

  private def letters(n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb += ('A' + rng.nextInt(26)).toChar; i += 1 }
    sb.toString
  }

  private def digits(n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb += ('0' + rng.nextInt(10)).toChar; i += 1 }
    sb.toString
  }

  /** A full record for `key` (the `'??%###????'` sku and amount rules of the
    * reference's fake-data generator). */
  def record(key: Long, op: String): Change = {
    val event = Events(rng.nextInt(Events.length))
    val amount = if (event == "cart" || event == "purchase") 1 + rng.nextInt(100) else 1
    val sku = letters(2) + (1 + rng.nextInt(9)).toString + digits(3) + letters(4)
    val transDt = fmtSeconds(Epoch0Micros / 1000000L + rng.nextInt(86400))
    Change(key, (100000000000L + rng.nextLong(900000000000L)).toString, event, sku, amount,
      Devices(rng.nextInt(Devices.length)), transDt, nextTs(), op, nextTxn())
  }

  def newKey(): Long = { val k = 2 * nextIndex; nextIndex += 1; k }

  /** A never-inserted key inside the key range. */
  def missingKey(): Long = 2 * (1 + rng.nextLong(math.max(1L, nextIndex - 1))) - 1

  /** A later record for the same key that carries the SAME metadata timestamp
    * as `prev` and a smaller transaction id, so only the transaction-id
    * tie-break ranks the two (`prev` must win). */
  def tieWith(prev: Change, op: String): Change =
    record(prev.key, op).copy(ts = prev.ts, txn = prev.txn - 1)

  def insert(): Change = track(record(newKey(), "insert"))
  def update(key: Long): Change = track(record(key, "update"))
  def delete(key: Long): Change = track(record(key, "delete"))

  def uniformLiveKey(): Long = live(rng.nextInt(live.size))
  /** A key among the `window` most recently inserted live keys. */
  def recentLiveKey(window: Int): Long = live(live.size - 1 - rng.nextInt(math.min(window, live.size)))

  def track(c: Change): Change = {
    if (c.op == "delete") livePos.remove(c.key).foreach { i =>
      val last = live(live.size - 1)
      live(i) = last; livePos(last) = i
      live.remove(live.size - 1)
    } else if (!livePos.contains(c.key)) { livePos(c.key) = live.size; live += c.key }
    c
  }
}

/** Batch shapes of the three workloads. */
object Batches {
  /** `n` inserts of fresh keys: the bootstrap full load and the append stream. */
  def inserts(g: Gen, n: Int): Vector[Change] = Vector.fill(n)(g.insert())

  /** Uniform copy-on-write churn: ≈85% updates and 10% deletes on keys drawn
    * uniformly from the whole table, 5% inserts of new keys. */
  def uniform(g: Gen, n: Int): Vector[Change] = Vector.fill(n) {
    val r = g.random.nextInt(100)
    if (r < 85) g.update(g.uniformLiveKey())
    else if (r < 95) g.delete(g.uniformLiveKey())
    else g.insert()
  }

  /** Merge-on-read churn on recent keys: a hot set of `hot` keys drawn from the
    * `window` newest live keys takes ≈70% of the batch as updates (several per
    * key), 10% are deletes from the same window, 20% are inserts. One change in
    * ten repeats the previous change's timestamp for its key with a smaller
    * transaction id, and one in five hundred carries the invalid hour-29
    * timestamp, which parses to NULL and loses to any valid one. */
  def recentHot(g: Gen, n: Int, window: Int, hot: Int): Vector[Change] = {
    val hotKeys = Array.fill(hot)(g.recentLiveKey(window))
    val lastByKey = scala.collection.mutable.LongMap.empty[Change]
    Vector.fill(n) {
      val r = g.random.nextInt(100)
      val c =
        if (r < 70) {
          val k = hotKeys(g.random.nextInt(hot))
          lastByKey.get(k) match {
            case Some(p) if p.txn % 2 == 0 && g.random.nextInt(10) == 0 =>
              g.track(g.tieWith(p, "update"))
            case _ => g.update(k)
          }
        } else if (r < 80) g.delete(g.recentLiveKey(window))
        else g.insert()
      val out = if (g.random.nextInt(500) == 0) c.copy(ts = Gen.invalidHour(c.ts)) else c
      lastByKey(out.key) = out
      out
    }
  }
}
