package cdcbench

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CdcFixtures

/** The model and the checker must catch what they are there to catch: a
  * wrong row, a wrong aggregate or a lookup that misses delete masking is
  * reported, and the model reproduces the reference's golden end state. */
class CheckerSpec extends AnyFunSuite {
  private def change(key: Long, ts: String, txn: Long, op: String = "update", amount: Int = 1) =
    Change(key, "100000000001", "cart", "AB1234CDEF", amount, "pc", "2023-01-16T06:00:00Z", ts, op, txn)

  private def row(key: Long, r: Rec): Row = {
    val ts = new Timestamp(r.transDtMicros / 1000)
    Row.fromSeq(Seq(key, r.customer, r.event, r.sku, r.amount, r.device, ts))
  }

  private val schemaRow: Seq[Row] => Seq[Row] = _.map { r =>
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(r.toSeq.toArray,
      graft.cdc.Cdc.tableSchema)
  }

  test("the model reproduces the reference's golden end state") {
    assert(Model.selfCheck(CdcFixtures.scenario1Lines, CdcFixtures.scenario2Lines).isEmpty)
  }

  test("the self-check reports a model that got the golden state wrong") {
    val dropped = CdcFixtures.scenario2Lines.filterNot(_.contains("\"trans_id\": 47"))
    assert(Model.selfCheck(CdcFixtures.scenario1Lines, dropped).exists(_.contains("golden keys")))
  }

  test("generated envelopes read back as the records they were made from") {
    val g = new Gen(42)
    val batch = Batches.inserts(g, 50) ++ Batches.recentHot(g, 500, 40, 10)
    assert(batch.map(c => Model.parseLine(Gen.json(c))) == batch)
  }

  test("the same seed gives the same records") {
    assert(Batches.uniform({ val g = new Gen(7); Batches.inserts(g, 100); g }, 200) ==
      Batches.uniform({ val g = new Gen(7); Batches.inserts(g, 100); g }, 200))
  }

  test("fold: latest (timestamp, transaction-id) wins, NULL timestamp loses, delete removes") {
    val m = new Model
    m.fold(Seq(
      change(1, "2023-01-16T06:00:00.000001Z", 10, "insert", amount = 1),
      change(1, "2023-01-16T06:00:00.000001Z", 9, amount = 2), // tie: smaller txn loses
      change(2, "2023-01-16T06:00:00.000002Z", 11, "insert", amount = 3),
      change(2, "2023-01-16T29:00:00.000002Z", 99, amount = 4), // NULL ts loses
      change(3, "2023-01-16T06:00:00.000003Z", 12, "insert"),
      change(3, "2023-01-16T06:00:00.000004Z", 13, "delete")))
    assert(m.rows.keySet == Set(1L, 2L))
    assert(m.rows(1).amount == 1 && m.rows(2).amount == 3)
  }

  test("a wrong aggregate is reported") {
    val expected = Map("cart" -> (10L, 2L), "view" -> (1L, 1L))
    assert(Check.aggregate(Seq(Row("cart", 10L, 2L), Row("view", 1L, 1L)), expected).isEmpty)
    assert(Check.aggregate(Seq(Row("cart", 11L, 2L), Row("view", 1L, 1L)), expected).isDefined)
    assert(Check.aggregate(Seq(Row("cart", 10L, 2L)), expected).isDefined)
    assert(Check.aggregate(Seq(Row("cart", 10L, 2L), Row("cart", 10L, 2L), Row("view", 1L, 1L)),
      expected).isDefined)
  }

  test("a wrong or missing row in the full table is reported") {
    val m = new Model
    m.fold(Seq(change(1, "2023-01-16T06:00:00.000001Z", 10, "insert", amount = 5),
      change(2, "2023-01-16T06:00:00.000002Z", 11, "insert", amount = 6)))
    val good = schemaRow(Seq(row(1, m.rows(1)), row(2, m.rows(2))))
    assert(Check.table(good, m).isEmpty)
    assert(Check.table(schemaRow(Seq(row(1, m.rows(1)), row(2, m.rows(2).copy(amount = 7)))), m).isDefined)
    assert(Check.table(schemaRow(Seq(row(1, m.rows(1)))), m).isDefined)
  }

  test("a lookup that returns a deleted row, misses a live one or returns a wrong one is reported") {
    val m = new Model
    m.fold(Seq(change(1, "2023-01-16T06:00:00.000001Z", 10, "insert"),
      change(2, "2023-01-16T06:00:00.000002Z", 11, "insert")))
    val deletedRow = row(2, m.rows(2))
    m.fold(Seq(change(2, "2023-01-16T06:00:01.000000Z", 12, "delete")))
    assert(Check.lookup(1, schemaRow(Seq(row(1, m.rows(1)))), m.rows.get(1)).isEmpty)
    assert(Check.lookup(2, Nil, m.rows.get(2)).isEmpty)
    assert(Check.lookup(2, schemaRow(Seq(deletedRow)), m.rows.get(2)).isDefined)
    assert(Check.lookup(1, Nil, m.rows.get(1)).isDefined)
    assert(Check.lookup(1, schemaRow(Seq(row(1, m.rows(1).copy(sku = "ZZ9999ZZZZ")))), m.rows.get(1)).isDefined)
  }
}
