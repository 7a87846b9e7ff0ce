package cdcbench

import org.apache.spark.sql.Row

/** Compares what the engine returned with what the model expects. Every
  * function returns None on a match and a one-line description otherwise. */
object Check {
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** A table row (`SELECT *` column names) as (key, model row). */
  def rec(r: Row): (Long, Rec) =
    r.getAs[Long]("trans_id") -> Rec(r.getAs[String]("customer_id"), r.getAs[String]("event"),
      r.getAs[String]("sku"), r.getAs[Int]("amount"), r.getAs[String]("device"),
      micros(r.getAs[java.sql.Timestamp]("trans_datetime")))

  def table(rows: Seq[Row], model: Model): Option[String] = {
    val got = rows.map(rec)
    if (got.size != model.rows.size)
      return Some(s"table has ${got.size} rows, model has ${model.rows.size}")
    got.collectFirst {
      case (k, r) if !model.rows.get(k).contains(r) =>
        s"row $k: table $r, model ${model.rows.get(k)}"
    }
  }

  /** Rows of `event, total, n` against the model's per-event aggregate. */
  def aggregate(rows: Seq[Row], expected: Map[String, (Long, Long)]): Option[String] = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (got.size == rows.size && got == expected) None
    else Some(s"aggregate: engine ${got.toSeq.sorted}, model ${expected.toSeq.sorted}")
  }

  /** The rows a point lookup returned against the model's row for the key. */
  def lookup(key: Long, rows: Seq[Row], expected: Option[Rec]): Option[String] = {
    val got = rows.map(rec)
    if (got == expected.map(key -> _).toSeq) None
    else Some(s"lookup $key: engine $got, model $expected")
  }
}
