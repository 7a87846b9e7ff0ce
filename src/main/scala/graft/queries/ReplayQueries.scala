package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.fixtures.CdcFixtures
import graft.stream.CdcPipeline
import graft.table.TransactionalTable

/**
 * The flagship end-to-end queries: replay the reference's two golden CDC
 * scenarios (`/root/reference/src/utils/gen_fake_cdc_data.py:26-59`) through
 * the full engine — parse → W1 dedup → MERGE into a snapshot-versioned
 * TransactionalTable — then query the maintained table. This is the engine-side
 * equivalent of the reference's manual test procedure (`README.md:386-513`).
 *
 * The oracle is the hand-derived end state (FIXTURES.md §A.2) as literal
 * VALUES — the same 12-row expectation the reference's runbook eyeballs.
 */
object ReplayQueries {

  /** Fresh table in a temp dir, scenario1 as batch 0, scenario2 as batch 1. */
  private def replay(spark: SparkSession): TransactionalTable = {
    val t = replay1(spark)
    CdcPipeline.replayLines(spark, t, CdcFixtures.scenario2Lines, batchId = 1)
    t
  }

  /** Fresh table with only scenario1 applied (the WAP query stages scenario2
    * on a branch). */
  private def replay1(spark: SparkSession): TransactionalTable = {
    val root = Files.createTempDirectory("graft_replay").toString
    val t = TransactionalTable.create(spark, root, Cdc.tableSchema, Cdc.PrimaryKey,
      Some(Cdc.PartitionColumn))
    CdcPipeline.replayLines(spark, t, CdcFixtures.scenario1Lines, batchId = 0)
    t
  }

  private def endStateDf(spark: SparkSession): DataFrame =
    replay(spark).scan()
      .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
        col("amount"), col("device"),
        date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
      .orderBy("trans_id")

  private val endStateOracle: String = {
    val rows = CdcFixtures.expectedEndState.map { case (id, cust, ev, sku, amt, dev, dt) =>
      s"(CAST($id AS BIGINT), '$cust', '$ev', '$sku', $amt, '$dev', '$dt')"
    }.mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $rows
       |) AS t(trans_id, customer_id, event, sku, amount, device, trans_datetime)
       |ORDER BY trans_id""".stripMargin
  }

  private val timeTravelOracle: String = {
    val ids = Seq(6L, 19L, 21L, 23L, 24L, 27L, 28L, 30L, 33L, 35L)
    s"SELECT * FROM (VALUES ${ids.map(i => s"(CAST($i AS BIGINT))").mkString(",")}) " +
      "AS t(trans_id) ORDER BY trans_id"
  }

  /** Events-table replay for the changelog queries: batch 0 upserts every
    * event keyed by event_id; batch 1 doubles `value` for event_id%5=0 ∧ %7≠0
    * and deletes event_id%7=0 — then [[TransactionalTable.changes]] between
    * the two commits. Long-PK twin of [[stringPkEndState]]'s scenario so the
    * incremental diff is fully relational (sf-scalable oracle). */
  private def eventsChangelog(s: SparkSession, d: String,
      mode: graft.table.MergeMode): DataFrame = {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_chg").toString + "/t"
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val t = TransactionalTable.create(s, root, sch, "event_id", None)
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
    val noDeletes = graft.util.Frames.empty(s, StructType(Seq(StructField("event_id", LongType))))
    t.merge(ev, noDeletes, batchId = 0, mode)
    val v1 = t.currentVersion
    t.merge(
      ev.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") * 2),
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      batchId = 1, mode)
    t.changes(v1, t.currentVersion)
      .orderBy("event_id", "_change_type")
  }

  private val eventsChangelogOracle: String =
    """SELECT * FROM (
      |  SELECT event_id, event_type, value, 'delete' AS _change_type
      |  FROM events WHERE event_id % 5 = 0 AND event_id % 7 <> 0
      |  UNION ALL
      |  SELECT event_id, event_type, value * 2, 'insert'
      |  FROM events WHERE event_id % 5 = 0 AND event_id % 7 <> 0
      |  UNION ALL
      |  SELECT event_id, event_type, value, 'delete'
      |  FROM events WHERE event_id % 7 = 0
      |) t ORDER BY event_id, _change_type""".stripMargin

  /** Composite-PK replay over the events fixture: the table is keyed
    * (event_type, event_id) — batch 0 loads every event; batch 1 doubles
    * `value` for event_id%5=0 ∧ %7≠0 and deletes event_id%7=0, both keyed on
    * the full pair. Merges join on both columns; manifest pruning runs in
    * the xxhash64(event_type, event_id) key domain. */
  private def compositePkEndState(s: SparkSession, d: String,
      mode: graft.table.MergeMode): DataFrame = {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_cpk").toString + "/t"
    val sch = StructType(Seq(StructField("event_type", StringType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val t = TransactionalTable.create(s, root, sch, "event_type,event_id", None)
    val ev = Tables.events(s, d).select(col("event_type"), col("event_id"), col("value"))
    val noDeletes = graft.util.Frames.empty(s,
      StructType(Seq(StructField("event_type", StringType), StructField("event_id", LongType))))
    t.merge(ev, noDeletes, batchId = 0, mode)
    t.merge(
      ev.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") * 2),
      ev.filter(col("event_id") % 7 === 0).select(col("event_type"), col("event_id")),
      batchId = 1, mode)
    t.scan().select(col("event_type"), col("event_id"), col("value"))
  }

  private val compositePkOracle: String =
    """SELECT event_type, event_id,
      |  CASE WHEN event_id % 5 = 0 AND event_id % 7 <> 0
      |       THEN value * 2 ELSE value END AS value
      |FROM events WHERE event_id % 7 <> 0""".stripMargin

  /** String-PK golden replay over the events fixture (see the Q entries):
    * batch 0 = every event keyed 'k<event_id>'; batch 1 = value-doubling
    * updates for event_id%5=0 ∧ %7≠0 plus deletes for event_id%7=0. */
  private def stringPkEndState(s: SparkSession, d: String,
      mode: graft.table.MergeMode): DataFrame = {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_spk").toString + "/t"
    val sch = StructType(Seq(StructField("id", StringType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val t = TransactionalTable.create(s, root, sch, "id", None)
    val ev = Tables.events(s, d).select(col("event_id"),
      concat(lit("k"), col("event_id").cast("string")).as("id"),
      col("event_type"), col("value"))
    val noDeletes = graft.util.Frames.empty(s, StructType(Seq(StructField("id", StringType))))
    t.merge(ev.drop("event_id"), noDeletes, batchId = 0, mode)
    t.merge(
      ev.filter(col("event_id") % 5 === 0 && col("event_id") % 7 =!= 0)
        .withColumn("value", col("value") * 2).drop("event_id"),
      ev.filter(col("event_id") % 7 === 0).select(col("id")),
      batchId = 1, mode)
    t.scan().select(col("id"), col("event_type"), col("value"))
  }

  private val stringPkOracle: String =
    """SELECT 'k' || CAST(event_id AS VARCHAR) AS id, event_type,
      |  CASE WHEN event_id % 5 = 0 AND event_id % 7 <> 0
      |       THEN value * 2 ELSE value END AS value
      |FROM events WHERE event_id % 7 <> 0""".stripMargin

  val all: Seq[Q] = Seq(

    Q("cdc_replay_end_state", (s, _) => endStateDf(s), Some(endStateOracle),
      headline = true, streaming = true),

    // Time travel: the snapshot committed after batch 0 still answers with the
    // 10 originally-inserted keys (version 1 = post-scenario1 commit).
    Q("cdc_time_travel_v1",
      (s, _) => replay(s).scanAt(1).select("trans_id").orderBy("trans_id"),
      Some(timeTravelOracle)),

    // A2 as metadata-only count: answered from manifest stats, zero file I/O
    // (what Iceberg gives Athena for `README.md:511-512`).
    Q("cdc_count_after_replay",
      (s, _) => { import s.implicits._; Seq(replay(s).countRows).toDF("cnt") },
      Some("SELECT CAST(12 AS BIGINT) AS cnt")),

    // S4+X7 over the ENGINE's own table: register the maintained table as a
    // SQL-visible view and answer an analytic GROUP BY through spark.sql —
    // the reference's product surface (Athena over the Iceberg table,
    // `README.md:507-513`). Oracle: hand-derived per-event aggregate of the
    // golden end state.
    Q("cdc_sql_over_table",
      (s, _) => {
        replay(s).scan().createOrReplaceTempView("retail_trans_iceberg")
        s.sql("""SELECT event, COUNT(*) AS n, SUM(amount) AS total_amount
                 FROM retail_trans_iceberg GROUP BY event ORDER BY event""")
      },
      Some("""SELECT * FROM (VALUES
             |  ('cart', CAST(2 AS BIGINT), CAST(127 AS BIGINT)),
             |  ('like', CAST(4 AS BIGINT), CAST(88 AS BIGINT)),
             |  ('list', CAST(3 AS BIGINT), CAST(44 AS BIGINT)),
             |  ('purchase', CAST(1 AS BIGINT), CAST(5 AS BIGINT)),
             |  ('visit', CAST(2 AS BIGINT), CAST(40 AS BIGINT))
             |) AS t(event, n, total_amount) ORDER BY event""".stripMargin)),

    // GUARDED replay (T3 late-data fix): the golden scenarios arrive in op-ts
    // order, so the guarded pipeline must land on the exact same end state —
    // driver-checks the timestamp-guard algebra itself.
    Q("cdc_replay_guarded_end_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_replay_g").toString
        val t = TransactionalTable.create(s, root, Cdc.guardedTableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        CdcPipeline.applyCdcBatchGuarded(t, Cdc.parse(CdcFixtures.scenario1Lines.toDS()), 0)
        CdcPipeline.applyCdcBatchGuarded(t, Cdc.parse(CdcFixtures.scenario2Lines.toDS()), 1)
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // GUARDED merge-on-read replay (T3 fix under the Iceberg-v2 write mode):
    // the guard is resolved at write time against the pruned current slice —
    // losing rows produce neither data nor delete entries. The golden
    // scenarios arrive in op-ts order, so the end state must equal the
    // faithful replay's.
    Q("cdc_replay_guarded_mor_end_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_replay_gmor").toString
        val t = TransactionalTable.create(s, root, Cdc.guardedTableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        CdcPipeline.applyCdcBatchGuarded(t, Cdc.parse(CdcFixtures.scenario1Lines.toDS()), 0,
          graft.table.MergeMode.MergeOnRead)
        CdcPipeline.applyCdcBatchGuarded(t, Cdc.parse(CdcFixtures.scenario2Lines.toDS()), 1,
          graft.table.MergeMode.MergeOnRead)
        assert(t.snapshot.deletes.nonEmpty, "test premise: MOR deletes must be pending")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // Snapshot ROLLBACK (Iceberg rollback_to_snapshot parity) as a driver-
    // certified query: golden replay, then a catastrophic bad batch (deletes
    // every row), then rollbackTo the pre-disaster version — a history-
    // preserving NEW commit. The scan must answer the golden end state, and
    // the replay fence must still hold its high-water mark (the corrected
    // batch re-delivers under a later batchId).
    Q("cdc_rollback_end_state",
      (s, _) => {
        val t = replay(s) // v1 = scenario1, v2 = scenario2 (golden end state)
        val goodVersion = t.currentVersion
        t.merge(t.scan().limit(0), t.scan().select(col(Cdc.PrimaryKey)), batchId = 2)
        assert(t.scan().count() == 0L, "test premise: bad batch emptied the table")
        t.rollbackTo(goodVersion)
        assert(t.currentVersion == goodVersion + 2, "rollback must be a NEW commit")
        assert(t.snapshot.batchId == 2L, "replay fence must keep its high-water mark")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // DROP COLUMN + schema time travel as a driver-certified query: after the
    // golden replay, `device` is dropped (metadata-only). The live read must
    // lack the column while `VERSION AS OF` the pre-drop snapshot still
    // carries it — the per-snapshot schema stamps (schemaAt) under oracle.
    // Output: live columns joined with the time-traveled device values, plus
    // the live schema's device-lessness as a literal.
    Q("cdc_drop_column_travel",
      (s, _) => {
        val t = replay(s)
        val preDrop = t.currentVersion
        val t2 = t.dropColumn("device")
        val live = t2.scan()
        assert(!live.columns.contains("device"), "live schema must have lost the column")
        val travel = t2.scanAt(preDrop).select(col("trans_id"), col("device"))
        live.select(col("trans_id"), col("event"), col("amount"))
          .join(travel, "trans_id")
          .withColumn("live_has_device", lit(live.columns.contains("device")))
          .orderBy("trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.map { case (id, _, ev, _, amt, dev, _) =>
          s"(CAST($id AS BIGINT), '$ev', $amt, '$dev', false)"
        }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount, device, live_has_device)
           |ORDER BY trans_id""".stripMargin
      }),

    // E214: ALTER TABLE ... RENAME TO — the golden replay lands in
    // db.retail, the table renames (atomic dir move + one-pass
    // absolute-path rewrite of manifest/chunk metadata), and the END STATE
    // reads back from the NEW identifier; the old one is gone. MOR masks,
    // time travel and post-rename writes are CatalogSpec's business — the
    // oracle here pins the full data round-trip through the move.
    Q("cdc_rename_table",
      (s, _) => {
        val cat = s"graft_rn${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_rn").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail",
          Cdc.tableSchema, Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"ALTER TABLE $cat.db.retail RENAME TO db.retail_v2")
        s.sql(s"SELECT trans_id, customer_id, event, sku, amount, device, " +
          s"date_format(trans_datetime, 'yyyy-MM-dd HH:mm:ss') AS trans_datetime " +
          s"FROM $cat.db.retail_v2 ORDER BY trans_id")
      },
      Some(endStateOracle)),

    // FULL-SYNC MERGE (Iceberg/Delta `WHEN NOT MATCHED BY SOURCE THEN
    // DELETE`): after the golden replay, sync the table to a source that
    // keeps only trans_id < 30 (amounts +1000) and adds key 500 — matched
    // rows update, the new key inserts, every other key deletes, all in ONE
    // engine commit. Oracle: derived from the golden end state.
    Q("cdc_sql_merge_full_sync",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_fs${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_fs").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val src = CdcFixtures.expectedEndState.filter(_._1 < 30L)
          .map { case (id, cust, ev, sku, amt, dev, _) =>
            (id, cust, ev, sku, amt + 1000, dev, new java.sql.Timestamp(0L))
          } :+ ((500L, "c500", "cart", "SKU5", 5, "pc", new java.sql.Timestamp(0L)))
        src.toDF(Cdc.tableSchema.fieldNames.toIndexedSeq: _*)
          .createOrReplaceTempView("fs_src")
        s.sql(
          s"""MERGE INTO $cat.db.retail t USING fs_src s ON t.trans_id = s.trans_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val kept = CdcFixtures.expectedEndState.filter(_._1 < 30L)
          .map { case (id, _, ev, _, amt, _, _) =>
            s"(CAST($id AS BIGINT), '$ev', ${amt + 1000})"
          }
        val rows = (kept :+ "(CAST(500 AS BIGINT), 'cart', 5)").mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // General N-clause SQL MERGE (Iceberg/Delta parity: clauses evaluated in
    // statement order, FIRST matching clause wins; conditional, partial, and
    // non-star assignments). Target = events keys with event_id%10<5, source =
    // keys 3..6 with value+1: the overlap (3,4) exercises every MATCHED clause
    // tier, 5..6 the conditional INSERT, and unmatched target rows stay put.
    // Scales with sfDir — at sf0.1 this is a ~60k-row general merge.
    Q("cdc_sql_merge_multi_clause",
      (s, d) => {
        val cat = s"graft_mc${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mc").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val ev = Tables.events(s, d)
        val target = ev.filter(col("event_id") % 10 < 5)
          .select("event_id", "user_id", "value")
        val t = TransactionalTable.create(s, s"$warehouse/db/evt", target.schema,
          "event_id", None)
        t.append(target)
        ev.filter(col("event_id") % 10 >= 3 && col("event_id") % 10 <= 6)
          .select(col("event_id"), col("user_id"), (col("value") + 1).as("value"))
          .createOrReplaceTempView("mc_src")
        s.sql(
          s"""MERGE INTO $cat.db.evt t USING mc_src s ON t.event_id = s.event_id
             |WHEN MATCHED AND s.value >= 50 THEN UPDATE SET t.value = s.value * 2
             |WHEN MATCHED AND s.value < 10 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET t.user_id = -1
             |WHEN NOT MATCHED AND s.user_id % 2 = 0 THEN
             |  INSERT (event_id, user_id, value) VALUES (s.event_id, s.user_id, s.value)
             |""".stripMargin)
        s.sql(s"SELECT event_id, user_id, value FROM $cat.db.evt ORDER BY event_id")
      },
      Some("""WITH t0 AS (
             |  SELECT event_id, user_id, value FROM events WHERE event_id % 10 < 5),
             |s0 AS (
             |  SELECT event_id, user_id, value + 1 AS value FROM events
             |  WHERE event_id % 10 BETWEEN 3 AND 6),
             |m AS (
             |  SELECT t.event_id, t.user_id AS t_user, t.value AS t_val, s.value AS s_val
             |  FROM t0 t JOIN s0 s USING (event_id))
             |SELECT event_id, user_id, value FROM (
             |  SELECT event_id, t_user AS user_id, s_val * 2 AS value FROM m
             |  WHERE s_val >= 50
             |  UNION ALL
             |  SELECT event_id, CAST(-1 AS BIGINT) AS user_id, t_val AS value FROM m
             |  WHERE s_val < 50 AND s_val >= 10
             |  UNION ALL
             |  SELECT t.event_id, t.user_id, t.value FROM t0 t
             |  WHERE NOT EXISTS (SELECT 1 FROM s0 s WHERE s.event_id = t.event_id)
             |  UNION ALL
             |  SELECT s.event_id, s.user_id, s.value FROM s0 s
             |  WHERE NOT EXISTS (SELECT 1 FROM t0 t WHERE t.event_id = s.event_id)
             |    AND s.user_id % 2 = 0
             |) ORDER BY event_id""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION (Iceberg/Delta): the source carries a
    // column the target lacks — the merge ADDS it (nullable, zero data
    // movement), matched rows take source values, unmatched target rows
    // null-fill, and new keys insert with the full evolved row. Oracle:
    // the same outer-join semantics in plain SQL over the orders fixture.
    Q("cdc_sql_merge_schema_evolution",
      (s, d) => {
        val cat = s"graft_se${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_se").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val ord = Tables.load(s, d, "orders")
        val target = ord.filter(col("o_orderkey") % 4 < 2)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice").cast("double").as("o_totalprice"))
        val t = TransactionalTable.create(s, s"$warehouse/db/ord", target.schema,
          "o_orderkey", None)
        t.append(target)
        ord.filter(col("o_orderkey") % 4 >= 1 && col("o_orderkey") % 4 <= 2)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice").cast("double") * 2).as("o_totalprice"),
            col("o_orderpriority").as("o_tier"))
          .createOrReplaceTempView("se_src")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.ord t USING se_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice, o_tier
                 |FROM $cat.db.ord ORDER BY o_orderkey""".stripMargin)
      },
      Some("""WITH t0 AS (
             |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
             |  FROM orders WHERE o_orderkey % 4 < 2),
             |s0 AS (
             |  SELECT o_orderkey, o_custkey,
             |    CAST(o_totalprice AS DOUBLE) * 2 AS o_totalprice,
             |    o_orderpriority AS o_tier
             |  FROM orders WHERE o_orderkey % 4 BETWEEN 1 AND 2)
             |SELECT
             |  COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             |  COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
             |  COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
             |  s.o_tier
             |FROM t0 t FULL OUTER JOIN s0 s ON t.o_orderkey = s.o_orderkey
             |ORDER BY o_orderkey""".stripMargin)),

    // INSERT OVERWRITE (Iceberg static/dynamic overwrite parity): replay the
    // golden scenarios, then replace the 'cart' partition with one summary
    // row in a single atomic commit — untouched partitions carry their files
    // by identity, the pre-overwrite snapshot stays time-travelable. Oracle:
    // the golden end state minus cart rows plus the replacement.
    Q("cdc_insert_overwrite_partition",
      (s, _) => {
        val cat = s"graft_io${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_io").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(
          s"""INSERT OVERWRITE $cat.db.retail PARTITION (event = 'cart')
             |SELECT 1000L, 'c1000', 'SKU1000', 5, 'pc',
             |       TIMESTAMP '2023-01-16 12:00:00'""".stripMargin)
        s.sql(s"""SELECT trans_id, event, amount FROM $cat.db.retail
                  ORDER BY trans_id""")
      },
      Some {
        val kept = CdcFixtures.expectedEndState.filter(_._3 != "cart")
          .map { case (id, _, ev, _, amt, _, _) => s"(CAST($id AS BIGINT), '$ev', $amt)" }
        val rows = (kept :+ "(CAST(1000 AS BIGINT), 'cart', 5)").mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // RUNTIME FILTERING (DSv2 SupportsRuntimeV2Filtering — Iceberg
    // SparkBatchQueryScan.filter parity): a dim-filtered fact join where the
    // broadcast build side's key set arrives as an IN runtime filter and
    // prunes fact FILES before the probe scan plans. The premise is proved
    // destructively: every 'visit'-partition file is deleted from disk, so
    // the query can only succeed if join-time pruning kept the scan away
    // from them; the plan is asserted to carry the dynamic-pruning filter.
    // Oracle: the cart/like rows of the scenario-1 state.
    Q("cdc_runtime_filter_join",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_rf${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_rf").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        t.snapshot.files.filter(_.partition.contains("visit"))
          .foreach(f => Files.delete(java.nio.file.Paths.get(f.path)))
        val dimSch = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tag",
            org.apache.spark.sql.types.StringType)))
        val dim = TransactionalTable.create(s, s"$warehouse/db/dim", dimSch, "event")
        dim.append(Seq(("cart", "keep"), ("like", "keep"), ("visit", "drop"))
          .toDF("event", "tag"))
        val df = s.sql(
          s"""SELECT f.trans_id, f.event FROM $cat.db.retail f
             |JOIN $cat.db.dim d ON f.event = d.event
             |WHERE d.tag = 'keep' ORDER BY f.trans_id""".stripMargin)
        assert(df.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"),
          "premise: the fact scan must carry the dim key set as a runtime filter")
        df
      },
      Some {
        val rows = CdcFixtures.expectedStateV1
          .filter(r => r._3 == "cart" || r._3 == "like")
          .map { case (id, _, ev, _, _, _, _) => s"(CAST($id AS BIGINT), '$ev')" }
          .mkString(", ")
        s"SELECT * FROM (VALUES $rows) AS t(trans_id, event) ORDER BY trans_id"
      }),

    // STREAMING SINK REPLAY (writeStream.format("graft-table")): the golden
    // scenarios delivered through the v1 sink — one transactional merge per
    // epoch, epoch id as the replay fence. Rows enter pre-deduped (the
    // pipeline's post-W1 shape; fixture-size driver collect, test scale
    // only) with a _deleted routing flag. Oracle: identical golden end state.
    Q("cdc_sink_replay_end_state",
      (s, _) => {
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        val root = Files.createTempDirectory("graft_sink").toString + "/t"
        TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        type R = (Long, String, String, String, Int, String, java.sql.Timestamp, Boolean)
        def rowsOf(lines: Seq[String]): Seq[R] = {
          val d = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          val ups = Cdc.projectToTable(Cdc.upserts(d)).collect().map(r => (
            r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
            r.getInt(4), r.getString(5), r.getTimestamp(6), false)).toSeq
          val dels = Cdc.deletes(d).select(col(Cdc.PrimaryKey)).collect()
            .map(r => (r.getLong(0), "", "", "", 0, "",
              new java.sql.Timestamp(0L), true)).toSeq
          ups ++ dels
        }
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
          (Long, String, String, String, Int, String, java.sql.Timestamp, Boolean)]
        val q = mem.toDF()
          .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
            "trans_datetime", "_deleted")
          .writeStream.format("graft-table").option("path", root)
          .option("checkpointLocation", Files.createTempDirectory("graft_sink_ck").toString)
          .option("deleteCol", "_deleted").outputMode("update").start()
        try {
          mem.addData(rowsOf(CdcFixtures.scenario1Lines): _*)
          q.processAllAvailable()
          mem.addData(rowsOf(CdcFixtures.scenario2Lines): _*)
          q.processAllAvailable()
        } finally { q.stop(); q.awaitTermination() }
        TransactionalTable.open(s, root).scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // STREAMING-MAINTAINED summary MV (E178): the CDC pipeline refreshes a
    // materialized view over its sink table INSIDE each micro-batch
    // (`maintainViews`), so the summary is as fresh as the state store —
    // batch 2 carries updates + deletes, so the refresh rides the
    // RETRACTION algebra per batch, and the incremental path is proven by
    // the mv-incr writer fence only those tiers land.
    Q("cdc_stream_mv_fresh",
      (s, _) => {
        val cat = s"graft_smq${System.nanoTime()}"
        val work = Files.createTempDirectory("graft_stream_mv").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$work/wh")
        Files.createDirectories(java.nio.file.Paths.get(s"$work/wh/db"))
        Files.createDirectories(java.nio.file.Paths.get(s"$work/input"))
        val t = TransactionalTable.create(s, s"$work/wh/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_tot " +
          s"TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(amount) AS na, " +
          s"COUNT(*) AS n FROM $cat.db.retail GROUP BY event")
        def runOnce(): Unit = {
          val q = CdcPipeline.start(s, s"$work/input", t, s"$work/ckpt",
            trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
            maintainViews = Seq(s"$cat.db.ev_tot"))
          q.processAllAvailable(); q.stop(); q.awaitTermination()
        }
        CdcFixtures.write(s"$work/input", "b1.jsonl", CdcFixtures.scenario1Lines)
        runOnce()
        CdcFixtures.write(s"$work/input", "b2.jsonl", CdcFixtures.scenario2Lines)
        runOnce()
        val fences = TransactionalTable.open(s, s"$work/wh/db/ev_tot/_storage")
          .snapshot.writerFences
        require(fences.keys.exists(_.startsWith("mv-incr")),
          s"refreshes must ride the incremental tiers, fences: ${fences.keys}")
        s.sql(s"SELECT event, total, na, n FROM $cat.db.ev_tot ORDER BY event")
      },
      Some {
        val rows = CdcFixtures.expectedEndState
          .map { case (_, _, ev, _, amt, _, _) => (ev, amt) }
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._2.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, na, n) ORDER BY event""".stripMargin
      },
      headline = true, streaming = true),

    // STREAMING-MAINTAINED JOIN MV (E201 — the combination most sensitive
    // to the per-source fence algebra): a fact ⋈ dim aggregate MV refreshed
    // INSIDE each micro-batch while BOTH sources advance — the dim gains a
    // mapping while the stream is down, so the second batch's refresh nets
    // a multi-source interval (Δfact terms + Δdim terms, E181 telescoping)
    // under live streaming restarts. The mv-incr-join writer fence proves
    // the refreshes took the incremental join tier, never recompute.
    Q("cdc_stream_mv_join_fresh",
      (s, _) => {
        val cat = s"graft_smj${System.nanoTime()}"
        val work = Files.createTempDirectory("graft_stream_mvj").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$work/wh")
        Files.createDirectories(java.nio.file.Paths.get(s"$work/wh/db"))
        Files.createDirectories(java.nio.file.Paths.get(s"$work/input"))
        val t = TransactionalTable.create(s, s"$work/wh/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        TransactionalTable.create(s, s"$work/wh/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES " +
          "('visit', 'browse'), ('cart', 'intent'), ('purchase', 'buy')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.cat_tot " +
          s"TBLPROPERTIES('pk'='cat') AS " +
          s"SELECT c.cat, SUM(r.amount) AS total, COUNT(r.amount) AS na, " +
          s"COUNT(*) AS n FROM $cat.db.retail r " +
          s"JOIN $cat.db.evcat c ON r.event = c.event GROUP BY c.cat")
        def runOnce(): Unit = {
          val q = CdcPipeline.start(s, s"$work/input", t, s"$work/ckpt",
            trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
            maintainViews = Seq(s"$cat.db.cat_tot"))
          q.processAllAvailable(); q.stop(); q.awaitTermination()
        }
        CdcFixtures.write(s"$work/input", "b1.jsonl", CdcFixtures.scenario1Lines)
        runOnce()
        // the DIM advances while the stream is down: the next batch's
        // refresh covers a genuinely multi-source interval
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('like', 'social')")
        CdcFixtures.write(s"$work/input", "b2.jsonl", CdcFixtures.scenario2Lines)
        runOnce()
        val fences = TransactionalTable.open(s, s"$work/wh/db/cat_tot/_storage")
          .snapshot.writerFences
        require(fences.keys.exists(_.startsWith("mv-incr-join")),
          s"refreshes must ride the incremental JOIN tier, fences: ${fences.keys}")
        s.sql(s"SELECT cat, total, na, n FROM $cat.db.cat_tot ORDER BY cat")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent",
          "purchase" -> "buy", "like" -> "social")
        val rows = CdcFixtures.expectedEndState
          .map { case (_, _, ev, _, amt, _, _) => (ev, amt) }
          .filter(r => cats.contains(r._1))
          .groupBy(r => cats(r._1)).toSeq.sortBy(_._1)
          .map { case (c, rs) =>
            s"('$c', CAST(${rs.map(_._2.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(cat, total, na, n) ORDER BY cat""".stripMargin
      },
      streaming = true),

    // TYPE WIDENING (Iceberg type-promotion parity): replay scenario1, widen
    // amount int→long (metadata-only, zero data movement), replay scenario2 —
    // pre-widen INT32 files and post-widen files answer ONE scan under the
    // widened schema (Spark 4 Parquet widening promotion); time travel keeps
    // the narrow type (CatalogSpec). Oracle: golden end state, amount BIGINT.
    Q("cdc_widen_column_end_state",
      (s, _) => {
        val t = replay1(s)
        val t2 = t.widenColumn("amount", org.apache.spark.sql.types.LongType)
        CdcPipeline.replayLines(s, t2, CdcFixtures.scenario2Lines, batchId = 1)
        t2.scan()
          .select(col("trans_id"), col("amount"))
          .orderBy("trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.map { case (id, _, _, _, amt, _, _) =>
          s"(CAST($id AS BIGINT), CAST($amt AS BIGINT))"
        }.mkString(", ")
        s"SELECT * FROM (VALUES $rows) AS t(trans_id, amount) ORDER BY trans_id"
      }),

    // INCREMENTAL CHANGELOG READ (Iceberg incremental scan /
    // create_changelog_view parity — the "CDC out" counterpart of the MERGE
    // sink): the golden replay's diff from the post-scenario1 snapshot to the
    // end state. Updates surface as delete+insert pairs under the same PK;
    // untouched keys (27, 28) must NOT appear even though CoW rewrote their
    // files (carried-over rows cancel). Oracle: the hand-derived row diff of
    // the two golden states.
    Q("cdc_incremental_read",
      (s, _) => {
        val t = replay(s) // v1 = scenario1, v2 = scenario2
        t.changes(1, t.currentVersion)
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"),
            col("_change_type"))
          .orderBy("trans_id", "_change_type")
      },
      Some {
        val endByKey = CdcFixtures.expectedEndState.map(r => r._1 -> r).toMap
        val v1ByKey = CdcFixtures.expectedStateV1.map(r => r._1 -> r).toMap
        val dels = CdcFixtures.expectedStateV1
          .filter(r => !endByKey.get(r._1).contains(r)).map(r => (r, "delete"))
        val ins = CdcFixtures.expectedEndState
          .filter(r => !v1ByKey.get(r._1).contains(r)).map(r => (r, "insert"))
        val rows = (dels ++ ins)
          .sortBy { case ((id, _, _, _, _, _, _), ct) => (id, ct) }
          .map { case ((id, cust, ev, sku, amt, dev, dt), ct) =>
            s"(CAST($id AS BIGINT), '$cust', '$ev', '$sku', $amt, '$dev', '$dt', '$ct')"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, customer_id, event, sku, amount, device, trans_datetime,
           |       _change_type)
           |ORDER BY trans_id, _change_type""".stripMargin
      }),

    // CHANGELOG STREAMING SOURCE (`option("mode","cdc")` — Delta CDF /
    // Iceberg changelog-scan parity, the STREAMED form of the incremental
    // read above): a graft-table readStream in cdc mode consumes the golden
    // replay's scenario-2 interval as a micro-batch of insert/delete images.
    // Same hand-derived oracle as cdc_incremental_read — the streamed batch
    // must equal the batch changelog exactly. (Fixture-scale driver collect:
    // the stream's sink gathers ≤18 golden rows for re-emission as a query
    // result; production consumers keep the rows distributed.)
    Q("cdc_stream_changes",
      (s, _) => {
        import s.implicits._
        val t = replay(s) // v1 = scenario1, v2 = scenario2
        val root = t.root
        val ckpt = Files.createTempDirectory("graft_stream_changes_ckpt").toString
        val acc = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, String, String, String, Int, String, String, String)]()
        val q = s.readStream.format("graft-table").option("path", root)
          .option("mode", "cdc").option("startingVersion", "1")
          .load().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            df.select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
              col("amount"), col("device"),
              date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss"),
              col("_change_type")).collect().foreach(r =>
                acc.add((r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
                  r.getInt(4), r.getString(5), r.getString(6), r.getString(7))))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(120000), "cdc stream did not drain in time")
        import scala.jdk.CollectionConverters._
        acc.iterator().asScala.toSeq
          .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
            "trans_datetime", "_change_type")
          .orderBy("trans_id", "_change_type")
      },
      Some {
        val endByKey = CdcFixtures.expectedEndState.map(r => r._1 -> r).toMap
        val v1ByKey = CdcFixtures.expectedStateV1.map(r => r._1 -> r).toMap
        val dels = CdcFixtures.expectedStateV1
          .filter(r => !endByKey.get(r._1).contains(r)).map(r => (r, "delete"))
        val ins = CdcFixtures.expectedEndState
          .filter(r => !v1ByKey.get(r._1).contains(r)).map(r => (r, "insert"))
        val rows = (dels ++ ins)
          .sortBy { case ((id, _, _, _, _, _, _), ct) => (id, ct) }
          .map { case ((id, cust, ev, sku, amt, dev, dt), ct) =>
            s"(CAST($id AS BIGINT), '$cust', '$ev', '$sku', $amt, '$dev', '$dt', '$ct')"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, customer_id, event, sku, amount, device, trans_datetime,
           |       _change_type)
           |ORDER BY trans_id, _change_type""".stripMargin
      }),

    // MEDALLION CHAIN (the E134 consumer pattern end-to-end): bronze = the
    // golden replay table; a cdc-mode readStream from version 0 feeds
    // foreachBatch merges into an independent SILVER engine table — per
    // batch, keys with an insert image upsert and delete-only keys delete
    // (the net-apply rule for a net-diff changelog). Silver must converge to
    // the same 12-row golden end state as bronze: the changelog stream is
    // proven a lossless replication transport, not just a feed of images.
    Q("cdc_silver_chain",
      (s, _) => {
        val bronze = replay(s) // v1 = scenario1, v2 = scenario2
        val silverRoot = Files.createTempDirectory("graft_silver").toString
        val silver = TransactionalTable.create(s, silverRoot, Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        val ckpt = Files.createTempDirectory("graft_silver_ckpt").toString
        val q = s.readStream.format("graft-table").option("path", bronze.root)
          .option("mode", "cdc").option("startingVersion", "0")
          .load().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              bid: Long) =>
            val ins = df.filter(col("_change_type") === "insert").drop("_change_type")
            val delOnly = df.filter(col("_change_type") === "delete")
              .select(col(Cdc.PrimaryKey))
              .join(ins.select(col(Cdc.PrimaryKey)), Seq(Cdc.PrimaryKey), "left_anti")
            silver.merge(ins, delOnly, bid)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(120000), "silver chain did not drain in time")
        silver.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // Changelog at fixture scale (sf-scalable, relational oracle): batch 0
    // loads every event, batch 1 doubles value for event_id%5=0 ∧ %7≠0 and
    // deletes event_id%7=0; changes(v1, v2) must be exactly the update pairs
    // plus the deletes — O(changed files): carried files outside the churn
    // are never read.
    Q("cdc_changes_events",
      (s, d) => eventsChangelog(s, d, graft.table.MergeMode.CopyOnWrite),
      Some(eventsChangelogOracle)),

    // Same diff computed against a merge-on-read history: batch 1 landed as
    // new data + an equality-delete file, so the before/after sides differ
    // only via delete masking over PK-range-pruned carried files. The net
    // changelog must be identical to the CoW run's.
    Q("cdc_changes_events_mor",
      (s, d) => eventsChangelog(s, d, graft.table.MergeMode.MergeOnRead),
      Some(eventsChangelogOracle)),

    // Merge-on-read replay: same golden scenarios applied as Iceberg-v2-style
    // data + equality-delete files (no rewrite at merge time; the delete
    // anti-join runs at scan). Oracle: identical golden end state.
    Q("cdc_replay_mor_end_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_replay_mor").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnRead)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle),
      headline = true, streaming = true),

    // Targeted delete fold (fold_deletes, Iceberg rewrite_position_deletes
    // role): MOR replay leaves equality-delete files pending; the fold
    // rewrites ONLY the data files those deletes can mask (pk-range∧bloom
    // pruned), clears the delete set, and the end state — now readable with
    // no delete anti-join at all — must still match the golden oracle.
    Q("cdc_fold_deletes_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_fold").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnRead)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        assert(t.snapshot.deletes.nonEmpty, "test premise: deletes pending")
        val (_, folded) = t.foldDeletes()
        assert(folded > 0L && t.snapshot.deletes.isEmpty,
          "fold must consume the pending delete files")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // Positional-delete merge-on-read replay: same golden scenarios, but each
    // merge resolves masked rows to (file, row-ordinal) at write time (Iceberg
    // v2 position deletes) — the scan side then filters with a key-free
    // (file, pos) anti-join. Oracle: identical golden end state.
    Q("cdc_replay_morpos_end_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_replay_morpos").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnReadPositional)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        assert(t.snapshot.deletes.exists(_.kind == graft.table.DeleteFile.Position),
          "test premise: positional delete files must be pending")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // Deletion-vector merge-on-read replay (Iceberg v3 DVs): masked rows
    // land as one roaring-style bitmap per target data file — superseding
    // merges union-replace so a file never carries more than one delete
    // artifact — and the scan filters with a codegen'd O(1)-per-row probe
    // instead of an anti-join. Oracle: identical golden end state.
    Q("cdc_replay_dv_end_state",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_replay_dv").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnReadVector)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        assert(t.snapshot.deletes.nonEmpty &&
          t.snapshot.deletes.forall(_.kind == graft.table.DeleteFile.Vector),
          "test premise: deletion vectors must be pending")
        val targets = t.snapshot.deletes.flatMap(_.target)
        assert(targets.distinct.size == targets.size,
          "DV invariant broken: more than one vector for a data file")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // Row lineage through the golden CoW replay (Iceberg v3 `first_row_id`
    // inheritance): every surviving key reports the commit that last changed
    // it and whether its `_row_id` survived batch 2's CoW rewrites
    // (updates keep identity; carried neighbors keep id AND stamp). Row-id
    // VALUES are layout-dependent (file order), so the oracle pins the
    // layout-INDEPENDENT lineage semantics; distinctness of the ids is an
    // engine-side assert (fixture-scale collect, documented test-scale).
    Q("cdc_row_lineage",
      (s, _) => {
        val root = Files.createTempDirectory("graft_replay_lineage").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        t.setRowLineage(true)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        val v1 = t.currentVersion
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val now = t.scanLineage()
          .select(col("trans_id"), col("_row_id"), col("_last_updated_seq"))
        val ids = now.select("_row_id").collect().map(_.getLong(0))
        assert(ids.distinct.length == ids.length,
          s"row ids not unique: ${ids.sorted.mkString(",")}")
        val old = t.scanLineage(v1)
          .select(col("trans_id").as("tid1"), col("_row_id").as("rid1"))
        now.join(old, col("trans_id") === col("tid1"), "left")
          .select(col("trans_id"),
            col("_last_updated_seq").as("last_updated_seq"),
            when(col("rid1").isNotNull, lit(1L)).otherwise(lit(2L)).as("first_seen_seq"),
            coalesce(col("_row_id") === col("rid1"), lit(true)).as("rid_stable"))
          .orderBy("trans_id")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(19 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(21 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(24 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(27 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(28 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(30 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(35 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(37 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true),
             |  (CAST(38 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true),
             |  (CAST(41 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true),
             |  (CAST(43 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true),
             |  (CAST(47 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true)
             |) AS t(trans_id, last_updated_seq, first_seen_seq, rid_stable)
             |ORDER BY trans_id""".stripMargin)),

    // Snapshot history (Iceberg `table.snapshots` parity) — manifest-only
    // metadata; bytes vary per run so the oracle pins the invariant columns.
    Q("cdc_table_history",
      (s, _) => replay(s).history()
        .select(col("version"), col("batch_id"), col("operation"), col("n_rows"))
        .orderBy("version"),
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(-1 AS BIGINT), 'create', CAST(0 AS BIGINT)),
             |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'merge', CAST(10 AS BIGINT)),
             |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'merge', CAST(12 AS BIGINT))
             |) AS t(version, batch_id, operation, n_rows) ORDER BY version""".stripMargin)),

    // Lineage-carrying changelog (Iceberg v3 changelog shape): the golden
    // interval's diff with `_row_id` attached — an UPDATE surfaces as a
    // delete+insert pair sharing ONE row id (update_pair=true certifies it:
    // 2 rows, 1 distinct id), while deletes/inserts are unpaired. Consumers
    // track identity across updates instead of re-keying.
    Q("cdc_changes_lineage",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_chg_lineage").toString
        val t = TransactionalTable.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey,
          Some(Cdc.PartitionColumn))
        t.setRowLineage(true)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        val v1 = t.currentVersion
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val d = t.changesWithLineage(v1, t.currentVersion)
        val pairs = d.groupBy("trans_id").agg(
          countDistinct(col("_row_id")).as("_n_rids"), count(lit(1)).as("_n"))
        d.join(pairs, "trans_id")
          .select(col("trans_id"), col("_change_type"), col("amount"),
            (col("_n_rids") === 1 && col("_n") === 2).as("update_pair"))
          .orderBy("trans_id", "_change_type")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(6 AS BIGINT),  'delete', CAST(1 AS INT),  false),
             |  (CAST(19 AS BIGINT), 'delete', CAST(1 AS INT),  true),
             |  (CAST(19 AS BIGINT), 'insert', CAST(39 AS INT), true),
             |  (CAST(21 AS BIGINT), 'delete', CAST(77 AS INT), true),
             |  (CAST(21 AS BIGINT), 'insert', CAST(60 AS INT), true),
             |  (CAST(23 AS BIGINT), 'delete', CAST(60 AS INT), false),
             |  (CAST(24 AS BIGINT), 'delete', CAST(1 AS INT),  true),
             |  (CAST(24 AS BIGINT), 'insert', CAST(42 AS INT), true),
             |  (CAST(30 AS BIGINT), 'delete', CAST(14 AS INT), true),
             |  (CAST(30 AS BIGINT), 'insert', CAST(67 AS INT), true),
             |  (CAST(33 AS BIGINT), 'delete', CAST(78 AS INT), false),
             |  (CAST(35 AS BIGINT), 'delete', CAST(1 AS INT),  true),
             |  (CAST(35 AS BIGINT), 'insert', CAST(85 AS INT), true),
             |  (CAST(37 AS BIGINT), 'insert', CAST(1 AS INT),  false),
             |  (CAST(38 AS BIGINT), 'insert', CAST(1 AS INT),  false),
             |  (CAST(41 AS BIGINT), 'insert', CAST(5 AS INT),  false),
             |  (CAST(43 AS BIGINT), 'insert', CAST(1 AS INT),  false),
             |  (CAST(47 AS BIGINT), 'insert', CAST(1 AS INT),  false)
             |) AS t(trans_id, _change_type, amount, update_pair)
             |ORDER BY trans_id, _change_type""".stripMargin)),

    // SCD2 type-2 history maintenance (the non-destructive twin of the
    // reference's MERGE sink): the golden CDC replay lands every key's FULL
    // version history as interval rows — updates close + reopen, deletes
    // close (tombstone), inserts open. 20 rows = 10 originals (5 closed by
    // updates, 3 by deletes, 2 still open) + 5 reopened + 5 new. Oracle:
    // the hand-derived interval table as literal VALUES (FIXTURES.md §A).
    Q("cdc_scd2_history",
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_scd2").toString
        val hist = graft.table.Scd2.create(s, root, Cdc.tableSchema, Cdc.PrimaryKey)
        def applyB(lines: Seq[String], seq: Long, b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          graft.table.Scd2.applyBatch(hist,
            Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), Cdc.PrimaryKey,
            seq = seq, batchId = b)
        }
        applyB(CdcFixtures.scenario1Lines, 1, 0)
        applyB(CdcFixtures.scenario2Lines, 2, 1)
        hist.scan().select(col("trans_id"), col("amount"),
          col(graft.table.Scd2.ValidFrom).as("valid_from"),
          col(graft.table.Scd2.ValidTo).as("valid_to"),
          col(graft.table.Scd2.IsCurrent).as("is_current"))
          .orderBy("trans_id", "valid_from")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(6 AS BIGINT),  CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(19 AS BIGINT), CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(19 AS BIGINT), CAST(39 AS INT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(21 AS BIGINT), CAST(77 AS INT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(21 AS BIGINT), CAST(60 AS INT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(23 AS BIGINT), CAST(60 AS INT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(24 AS BIGINT), CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(24 AS BIGINT), CAST(42 AS INT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(27 AS BIGINT), CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(28 AS BIGINT), CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(30 AS BIGINT), CAST(14 AS INT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(30 AS BIGINT), CAST(67 AS INT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(33 AS BIGINT), CAST(78 AS INT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(35 AS BIGINT), CAST(1 AS INT),  CAST(1 AS BIGINT), CAST(2 AS BIGINT),    false),
             |  (CAST(35 AS BIGINT), CAST(85 AS INT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(37 AS BIGINT), CAST(1 AS INT),  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(38 AS BIGINT), CAST(1 AS INT),  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(41 AS BIGINT), CAST(5 AS INT),  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(43 AS BIGINT), CAST(1 AS INT),  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
             |  (CAST(47 AS BIGINT), CAST(1 AS INT),  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true)
             |) AS t(trans_id, amount, valid_from, valid_to, is_current)
             |ORDER BY trans_id, valid_from""".stripMargin)),

    // FunctionCatalog md5_60 (SQL surface for the engine's deterministic
    // hash kernel): SQL users reproduce every hash-gated decision — mod
    // samples, shard ids, fingerprints — without the Scala API. The magic
    // `invoke` keeps it codegen-inlined. Oracle: DuckDB's md5 chain.
    Q("cdc_sql_md5_60",
      (s, d) => {
        val cat = s"graft_h${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_h").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        Tables.registerViews(s, d)
        s.sql(s"""SELECT doc_id, $cat.db.md5_60(CAST(doc_id AS STRING)) AS h
                  FROM documents
                  WHERE $cat.db.md5_60(CAST(doc_id AS STRING)) % 10 = 3
                  ORDER BY doc_id""")
      },
      Some("""SELECT doc_id,
             |  CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
             |FROM documents
             |WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 3
             |ORDER BY doc_id""".stripMargin)),

    // TRUNCATE TABLE: a metadata-only empty-state commit (no write job) —
    // pre-truncate snapshots stay time-travelable, the history stamps the
    // operation, and the table is immediately writable again. Oracle: only
    // the post-truncate wave survives.
    Q("cdc_sql_truncate",
      (s, d) => {
        val cat = s"graft_tr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_tr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        Tables.registerViews(s, d)
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, user_id BIGINT, " +
          "value DOUBLE) TBLPROPERTIES('pk'='event_id')")
        s.sql(s"INSERT INTO $cat.db.ev SELECT event_id, user_id, value " +
          "FROM events WHERE event_id % 5 = 0")
        s.sql(s"TRUNCATE TABLE $cat.db.ev")
        s.sql(s"INSERT INTO $cat.db.ev SELECT event_id, user_id, value " +
          "FROM events WHERE event_id % 7 = 0")
        val ops = s.sql(s"SELECT operation FROM $cat.db.ev.history ORDER BY version")
          .collect().map(_.getString(0)).toSeq
        assert(ops.contains("truncate") && ops.last == "append",
          s"unexpected history operations: $ops")
        s.sql(s"SELECT event_id, user_id, value FROM $cat.db.ev ORDER BY event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE event_id % 7 = 0 ORDER BY event_id""".stripMargin)),

    // Column DEFAULT values (Iceberg v3): initial-default (pre-add files
    // serve the ADD-time constant — the parquet reader distinguishes column
    // ABSENCE from a stored NULL) vs write-default (what INSERTs omitting
    // the column get; changeable via ALTER COLUMN SET DEFAULT without
    // touching history), exercised through CREATE/ALTER/INSERT/UPDATE SQL
    // with the defaults surviving a CoW rewrite. Oracle: the same algebra
    // as CASE expressions over the raw events fixture.
    Q("cdc_sql_default_values",
      (s, d) => {
        val cat = s"graft_dflt${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_dflt").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        Tables.registerViews(s, d)
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, user_id BIGINT, " +
          "value DOUBLE) TBLPROPERTIES('pk'='event_id')")
        s.sql(s"INSERT INTO $cat.db.ev SELECT event_id, user_id, value " +
          "FROM events WHERE event_id % 11 = 0")
        s.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN source STRING DEFAULT 'backfill'")
        s.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN score BIGINT DEFAULT 100")
        // write-default moves to 200; the frozen initial-default stays 100
        s.sql(s"ALTER TABLE $cat.db.ev ALTER COLUMN score SET DEFAULT 200")
        s.sql(s"INSERT INTO $cat.db.ev (event_id, user_id, value, source) " +
          "SELECT event_id, user_id, value, 'live' FROM events " +
          "WHERE event_id % 13 = 0 AND event_id % 11 <> 0")
        // CoW rewrite must materialize the defaults for carried rows
        s.sql(s"UPDATE $cat.db.ev SET value = value * 2 WHERE event_id % 22 = 0")
        s.sql(s"SELECT event_id, value, source, score FROM $cat.db.ev ORDER BY event_id")
      },
      Some("""SELECT event_id,
             |  CASE WHEN event_id % 22 = 0 THEN value * 2 ELSE value END AS value,
             |  CASE WHEN event_id % 11 = 0 THEN 'backfill' ELSE 'live' END AS source,
             |  CAST(CASE WHEN event_id % 11 = 0 THEN 100 ELSE 200 END AS BIGINT) AS score
             |FROM events WHERE event_id % 11 = 0 OR event_id % 13 = 0
             |ORDER BY event_id""".stripMargin)),

    // add_files (Iceberg parity): events rows written to EXTERNAL parquet by
    // a "foreign" job, registered into a fresh table with zero data movement
    // (manifest entries from footer stats), then row-level SQL over the
    // registered files. Oracle: the same subset algebra in DuckDB.
    Q("cdc_add_files_state",
      (s, d) => {
        val cat = s"graft_af${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_af").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val ext = Files.createTempDirectory("graft_af_external").toString
        val sub = Tables.events(s, d).filter(col("event_id") % 7 === 0)
          .select("event_id", "user_id", "value")
        sub.coalesce(2).write.mode("overwrite").parquet(ext)
        TransactionalTable.create(s, s"$warehouse/db/evt", sub.schema, "event_id", None)
        s.sql(s"CALL $cat.system.add_files('db.evt', '$ext')")
        s.sql(s"DELETE FROM $cat.db.evt WHERE event_id % 14 = 0")
        s.sql(s"SELECT event_id, user_id, value FROM $cat.db.evt ORDER BY event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE event_id % 7 = 0 AND event_id % 14 <> 0
             |ORDER BY event_id""".stripMargin)),

    // cherrypick_snapshot: roll back past a "bad" merge, then redo only the
    // later good commit's net delta. Oracle: base rows + the good commit's
    // algebra, with the bad commit's effects absent.
    Q("cdc_cherrypick_state",
      (s, d) => {
        val cat = s"graft_cp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_cp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val ev = Tables.events(s, d)
        val base = ev.filter(col("event_id") % 10 === 0)
          .select("event_id", "user_id", "value")
        val t = TransactionalTable.create(s, s"$warehouse/db/evt", base.schema,
          "event_id", None)
        t.append(base) // v1
        // v2 (bad): clobber every base value
        t.merge(base.select(col("event_id"), col("user_id"),
          (col("value") * 0).as("value")), base.select("event_id").limit(0), 1)
        // v3 (good): insert a disjoint key range
        t.merge(ev.filter(col("event_id") % 10 === 3)
          .select("event_id", "user_id", "value"), base.select("event_id").limit(0), 2)
        s.sql(s"CALL $cat.system.rollback_to_snapshot('db.evt', 1)")
        s.sql(s"CALL $cat.system.cherrypick_snapshot('db.evt', 3)")
        s.sql(s"SELECT event_id, user_id, value FROM $cat.db.evt ORDER BY event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE event_id % 10 IN (0, 3)
             |ORDER BY event_id""".stripMargin)),

    // Row-level SQL beyond MERGE (Iceberg v2's DELETE/UPDATE surface): golden
    // replay, then a SQL statement against the live table, then the end
    // state. Oracles: the golden 12-row end state with the statement's
    // algebra applied to the literal VALUES.
    Q("cdc_sql_delete_where",
      (s, _) => {
        val cat = s"graft_dw${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_dw").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'like'")
        s.sql(s"SELECT trans_id, customer_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.filter(_._3 != "like")
          .map { case (id, cust, ev, _, amt, _, _) =>
            s"(CAST($id AS BIGINT), '$cust', '$ev', $amt)"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, customer_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // DELETE with an IN-subquery condition (self-referential: the doomed key
    // set is computed from the table itself, snapshot-consistently) — the
    // row-level SQL surface beyond simple predicates.
    Q("cdc_sql_delete_subquery",
      (s, _) => {
        val cat = s"graft_dsq${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_dsq").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""DELETE FROM $cat.db.retail WHERE trans_id IN
                  (SELECT trans_id FROM $cat.db.retail WHERE event = 'like')""")
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.filter(_._3 != "like")
          .map { case (id, _, ev, _, amt, _, _) =>
            s"(CAST($id AS BIGINT), '$ev', $amt)"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // Metadata-only DELETE for partition-covering predicates (Iceberg
    // `canDeleteWhere` parity): `DELETE WHERE event_type IN (...)` on an
    // identity-partitioned table drops the covered files as a pure metadata
    // commit — asserted inline: zero data files written, history op
    // 'delete', pre-delete snapshot still time-travelable. Oracle: the
    // complement rows.
    Q("cdc_sql_delete_partition",
      (s, d) => {
        val cat = s"graft_ddp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_ddp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
                  PARTITIONED BY (event_type) TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_ddp")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_ddp")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        val before = t.snapshot.files.map(_.path).toSet
        val vBefore = t.currentVersion
        s.sql(s"DELETE FROM $cat.db.ev WHERE event_type IN ('error', 'signup')")
        val after = TransactionalTable.open(s, s"$warehouse/db/ev")
        assert(after.snapshot.files.map(_.path).toSet.subsetOf(before),
          "partition DELETE must not write data files")
        assert(after.operationOf(after.currentVersion).contains("delete"),
          "history must stamp the delete")
        assert(s.sql(s"SELECT count(*) FROM $cat.db.ev VERSION AS OF $vBefore")
          .collect().head.getLong(0) > after.countRows,
          "pre-delete snapshot must stay time-travelable")
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
                  FROM $cat.db.ev GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM events WHERE event_type NOT IN ('error', 'signup')
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // STORED VARIANT column + shredding (Iceberg v3): CREATE TABLE (v
    // VARIANT) with a declared hot path, INSERT parse_json'd event props,
    // row-level DELETE (the CoW rewrite must keep the shred invariant), then
    // read the typed path from the SHREDDED side-columns — asserted inline
    // to never touch the variant binary (parquet ReadSchema prunes to the
    // typed column). Oracle: DuckDB's json_extract over the same source.
    Q("cdc_variant_column",
      (s, d) => {
        val cat = s"graft_var${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_var").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        Tables.registerViews(s, d)
        s.sql(s"""CREATE TABLE $cat.db.ev (event_id BIGINT, v VARIANT)
                  TBLPROPERTIES('pk'='event_id', 'variant.shred.v'='k:$$.k:bigint')""")
        s.sql(s"INSERT INTO $cat.db.ev SELECT event_id, parse_json(props) " +
          "FROM events WHERE event_id % 5 = 0")
        s.sql(s"DELETE FROM $cat.db.ev WHERE event_id % 10 = 0")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        val sh = t.scanShredded("v")
        val plan = sh.queryExecution.executedPlan.toString
        assert(plan.contains("_sh_v_k") && !plan.contains("v#"),
          s"shredded scan must read the typed side-column only:\n$plan")
        // the typed-get over the BINARY (engine scan — the SQL surface is
        // transparently rewritten by GraftShredScanRule, so the binary twin
        // must come from the rule-free engine path) and the shredded read
        // must agree
        val viaBinary = t.scan()
          .select(col("event_id"), variant_get(col("v"), "$.k", "bigint").as("k"))
          .collect().map(r => (r.getLong(0), r.get(1))).toSet
        assert(sh.collect().map(r => (r.getLong(0), r.get(1))).toSet == viaBinary,
          "shredded side-columns diverge from the variant binary")
        // and the SQL surface IS rewritten to the side-column
        val sqlPlan = s.sql(s"SELECT event_id, variant_get(v, '$$.k', 'bigint') " +
          s"AS k FROM $cat.db.ev").queryExecution.executedPlan.toString
        assert(sqlPlan.contains("_sh_v_k"),
          s"SQL variant_get over the shredded table must rewrite:\n$sqlPlan")
        sh.orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events WHERE event_id % 5 = 0 AND event_id % 10 <> 0
             |ORDER BY event_id""".stripMargin)),

    Q("cdc_sql_update_where",
      (s, _) => {
        val cat = s"graft_uw${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_uw").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE event = 'cart'")
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) =>
            val a = if (ev == "cart") amt + 100 else amt
            s"(CAST($id AS BIGINT), '$ev', $a)"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // write.sort-order (Iceberg WRITE ORDERED BY role): declared order
    // changes FILE LAYOUT only — results are identical, which is exactly
    // what the oracle pins (plus the stats-tightness effect is asserted in
    // WriteDistributionSpec).
    Q("cdc_sql_sort_order",
      (s, _) => {
        val cat = s"graft_so${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_so").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"ALTER TABLE $cat.db.retail SET TBLPROPERTIES(" +
          "'write.sort-order'='trans_datetime desc, amount')")
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => s"(CAST($id AS BIGINT), '$ev', $amt)" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // CREATE OR REPLACE TABLE AS SELECT (Iceberg RTAS parity): one atomic
    // commit swaps schema/pk/contents — and the pre-replace snapshot stays
    // readable under VERSION AS OF (exercised in the query: the replaced
    // table is aggregated FROM its own pre-replace self).
    Q("cdc_sql_rtas",
      (s, _) => {
        val cat = s"graft_rt${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_rt").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(
          s"""CREATE OR REPLACE TABLE $cat.db.retail TBLPROPERTIES('pk'='event') AS
             |SELECT event, CAST(SUM(amount) AS BIGINT) AS total, COUNT(*) AS n
             |FROM $cat.db.retail GROUP BY event""".stripMargin)
        s.sql(s"SELECT event, total, n FROM $cat.db.retail ORDER BY event")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (ev, es) =>
            s"('$ev', CAST(${es.map(_._5).sum} AS BIGINT), CAST(${es.size} AS BIGINT))"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // Persisted SQL views (Iceberg-view parity): CREATE VIEW through the
    // graft catalog (versioned metadata JSON in the warehouse), then a read
    // through the view — with a REPLACE in between pinning that the read
    // resolves the CURRENT definition, plus a view-over-view hop.
    Q("cdc_sql_view",
      (s, _) => {
        val cat = s"graft_vq${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_vq").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE VIEW $cat.db.per_event AS " +
          s"SELECT event, amount FROM $cat.db.retail")
        s.sql(s"CREATE OR REPLACE VIEW $cat.db.per_event AS " +
          s"SELECT event, CAST(SUM(amount) AS BIGINT) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY event")
        s.sql(s"CREATE VIEW $cat.db.busy (event, total, n) AS " +
          s"SELECT event, total, n FROM $cat.db.per_event WHERE n >= 1")
        s.sql(s"SELECT event, total, n FROM $cat.db.busy ORDER BY event")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (ev, es) =>
            s"('$ev', CAST(${es.map(_._5).sum} AS BIGINT), CAST(${es.size} AS BIGINT))"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // Iceberg-style metadata tables through the SQL front door:
    // `graft.db.t.history` (commit log) and `graft.db.t.files` (live file
    // inventory with partition/stats) — how the reference's runbook inspects
    // table state without scanning data. Oracles pin the invariant columns.
    Q("cdc_metadata_history_sql",
      (s, _) => {
        val cat = s"graft_mh${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mh").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"SELECT version, batch_id, operation, n_rows " +
          s"FROM $cat.db.retail.history ORDER BY version")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(-1 AS BIGINT), 'create', CAST(0 AS BIGINT)),
             |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'merge', CAST(10 AS BIGINT)),
             |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'merge', CAST(12 AS BIGINT))
             |) AS t(version, batch_id, operation, n_rows) ORDER BY version""".stripMargin)),

    Q("cdc_metadata_files_sql",
      (s, _) => {
        val cat = s"graft_mf${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mf").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""SELECT partition, CAST(SUM(n_rows) AS BIGINT) AS n
                  FROM $cat.db.retail.files WHERE kind = 'data'
                  GROUP BY partition ORDER BY partition""")
      },
      Some("""SELECT * FROM (VALUES
             |  ('cart', CAST(2 AS BIGINT)), ('like', CAST(4 AS BIGINT)),
             |  ('list', CAST(3 AS BIGINT)), ('purchase', CAST(1 AS BIGINT)),
             |  ('visit', CAST(2 AS BIGINT))
             |) AS t(partition, n) ORDER BY partition""".stripMargin)),

    // Distributed entry-level metadata tables (round-11 scale path): the
    // driver plans CHUNK REFS only; entries stream through an executor-side
    // chunk scan and a groupBy(path) aggregation (GraftMetadataScanRule).
    // Under MOR, batch-0 files are never rewritten, so per-status row sums
    // are parallelism-independent: carried (status 0) = scenario-1's 10 net
    // rows, added (status 1) = scenario-2's 10 net upsert images.
    Q("cdc_metadata_entries_sql",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_me${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_me").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnRead)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        s.sql(s"""SELECT status, CAST(SUM(n_rows) AS BIGINT) AS rows_total
                  FROM $cat.db.retail.entries WHERE kind = 'data'
                  GROUP BY status ORDER BY status""")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT)),
             |  (CAST(1 AS BIGINT), CAST(10 AS BIGINT))
             |) AS t(status, rows_total) ORDER BY status""".stripMargin)),

    // all_files (retained reach, distributed): every data file of every
    // retained snapshot deduped by path with its live version range — under
    // MOR no file is ever removed, so the totals are exact fixture numbers.
    Q("cdc_metadata_all_files_sql",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_ma${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_ma").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnRead)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        s.sql(s"""SELECT CAST(SUM(n_rows) AS BIGINT) AS rows_total,
                         MIN(first_version) AS first_v, MAX(last_version) AS last_v
                  FROM $cat.db.retail.all_files""")
      },
      Some("""SELECT CAST(20 AS BIGINT) AS rows_total,
             |       CAST(1 AS BIGINT) AS first_v, CAST(2 AS BIGINT) AS last_v""".stripMargin)),

    // Partition-filtered COUNT(*) answered from manifest stats alone
    // (Iceberg metadata-aggregate parity): an identity-partition filter
    // selects whole files, so per-file row counts ARE the answer — zero
    // data I/O (plan + chunk-load proofs in CatalogSpec/ManifestShardingSpec).
    Q("cdc_count_partition_sql",
      (s, _) => {
        val cat = s"graft_cp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_cp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""SELECT COUNT(*) AS n_cart_like, MIN(trans_id) AS lo,
                         MAX(trans_id) AS hi
                  FROM $cat.db.retail WHERE event IN ('cart', 'like')""")
      },
      Some {
        val m = CdcFixtures.expectedEndState.filter(e => e._3 == "cart" || e._3 == "like")
        s"""SELECT CAST(${m.size} AS BIGINT) AS n_cart_like,
           |       CAST(${m.map(_._1).min} AS BIGINT) AS lo,
           |       CAST(${m.map(_._1).max} AS BIGINT) AS hi""".stripMargin
      }),

    // Per-partition metadata fold: GROUP BY the identity partition column +
    // COUNT/MIN/MAX answers from per-file manifest stats — one row per live
    // partition value, zero data I/O (a file holds exactly ONE value, so
    // per-file stats are exact per group). The engine asserts the fold
    // actually happened (LocalTableScan, no file scan).
    Q("cdc_group_by_partition_sql",
      (s, _) => {
        val cat = s"graft_gp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_gp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val df = s.sql(s"""SELECT event, COUNT(*) AS n, MIN(trans_id) AS lo,
                                 MAX(trans_id) AS hi
                           FROM $cat.db.retail GROUP BY event ORDER BY event""")
        assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
          "grouped partition fold did not engage — plan scans data")
        df
      },
      Some {
        val by = CdcFixtures.expectedEndState.groupBy(_._3).toSeq.sortBy(_._1)
        val rows = by.map { case (ev, es) =>
          s"('$ev', CAST(${es.size} AS BIGINT), CAST(${es.map(_._1).min} AS BIGINT), " +
            s"CAST(${es.map(_._1).max} AS BIGINT))"
        }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, n, lo, hi) ORDER BY event""".stripMargin
      }),

    // Iceberg `manifests` metadata-table parity: the chunked-manifest layer's
    // chunk refs (the "manifest list" view) — chunk stats only, no entry
    // loads. Chunk/file counts vary with shuffle parallelism, so the oracle
    // pins the layer's invariants: total rows and the live pk envelope.
    Q("cdc_metadata_manifests_sql",
      (s, _) => {
        val cat = s"graft_mc${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mc").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""SELECT CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                         CAST(MIN(pk_min) AS BIGINT) AS pk_lo,
                         CAST(MAX(pk_max) AS BIGINT) AS pk_hi
                  FROM $cat.db.retail.manifests""")
      },
      Some {
        val ids = CdcFixtures.expectedEndState.map(_._1)
        s"""SELECT CAST(${CdcFixtures.expectedEndState.size} AS BIGINT) AS n_rows,
           |       CAST(${ids.min} AS BIGINT) AS pk_lo,
           |       CAST(${ids.max} AS BIGINT) AS pk_hi""".stripMargin
      }),

    // Materialized view end-to-end: CREATE MV over the replayed table, let
    // the base advance (stale), CALL refresh_mv (atomic storage replace),
    // read through the MV — values must equal querying the base directly.
    Q("cdc_sql_mv",
      (s, _) => {
        val cat = s"graft_mv${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mv").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.by_event AS " +
          s"SELECT event, CAST(SUM(amount) AS BIGINT) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY event")
        // base advances → MV stale; refresh recomputes atomically
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CALL $cat.system.refresh_mv('db.by_event')").collect()
        s.sql(s"SELECT event, total, n FROM $cat.db.by_event ORDER BY event")
      },
      Some {
        val rows = CdcFixtures.expectedEndState.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (ev, es) =>
            s"('$ev', CAST(${es.map(_._5).sum} AS BIGINT), CAST(${es.size} AS BIGINT))"
          }.mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // View DDL listing surface: CREATE two views (one later renamed, one
    // dropped and recreated), then SHOW VIEWS — names and namespace pinned.
    Q("cdc_sql_show_views",
      (s, _) => {
        val cat = s"graft_sv${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_sv").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        s.sql(s"CREATE VIEW $cat.db.tmp_name AS SELECT trans_id FROM $cat.db.retail")
        s.sql(s"ALTER VIEW $cat.db.tmp_name RENAME TO $cat.db.alpha")
        s.sql(s"CREATE VIEW $cat.db.beta AS SELECT event FROM $cat.db.retail")
        s.sql(s"DROP VIEW $cat.db.beta")
        s.sql(s"CREATE VIEW $cat.db.beta AS SELECT amount FROM $cat.db.retail")
        s.sql(s"SHOW VIEWS IN $cat.db")
          .select("namespace", "viewName")
          .orderBy("viewName")
      },
      Some("""SELECT * FROM (VALUES
             |  ('db', 'alpha'), ('db', 'beta')
             |) AS t(namespace, viewName) ORDER BY viewName""".stripMargin)),

    // Incremental MV refresh end-to-end (E86): a row-preserving MV over the
    // replayed table, advanced by an APPEND-ONLY interval (plain INSERT), is
    // refreshed through the incremental path (transform-the-inserts +
    // fenced append) — contents must equal querying the base directly.
    Q("cdc_sql_mv_incremental",
      (s, _) => {
        val cat = s"graft_mi${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mi").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.big_events AS " +
          s"SELECT trans_id, event, amount FROM $cat.db.retail WHERE amount >= 20")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL), " +
          "(501, 'c501', 'cart', 'SKU501', 5, 'pc', NULL)") // 5 < 20: filtered out
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.big_events')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental"),
          s"expected the incremental path, got '$refreshed'")
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.big_events ORDER BY trans_id")
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .filter(_._3 >= 20) :+ ((500L, "visit", 555)))
          .sortBy(_._1)
          .map { case (id, ev, amt) => s"(CAST($id AS BIGINT), '$ev', $amt)" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // JOIN MV maintenance (E162): a fact ⋈ dim MV with append-only intervals
    // on BOTH sources refreshes via the IVM delta terms Δfact⋈dim@v1 ∪
    // fact@v0⋈Δdim — one fenced APPEND of the new join rows, never a re-join
    // of the full sources. The interval exercises both terms: a new fact
    // matching an existing dim row, and a new dim row matching existing
    // facts. Reason must name the join tier; contents must equal the direct
    // join of the final sources.
    Q("cdc_sql_mv_incr_join",
      (s, _) => {
        val cat = s"graft_mj${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mj").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('visit', 'browse'), ('cart', 'intent')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.fact_cat AS " +
          s"SELECT r.trans_id, r.event, r.amount, c.cat " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event")
        // Δfact (visit 500 joins the OLD dim) + Δdim ('like' joins OLD facts)
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('like', 'social')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.fact_cat')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join"),
          s"expected the join IVM path, got '$refreshed'")
        s.sql(s"SELECT trans_id, event, amount, cat FROM $cat.db.fact_cat " +
          "ORDER BY trans_id")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent", "like" -> "social")
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) } :+
          ((500L, "visit", 555)))
          .filter(r => cats.contains(r._2))
          .sortBy(_._1)
          .map { case (id, ev, amt) =>
            s"(CAST($id AS BIGINT), '$ev', $amt, '${cats(ev)}')" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount, cat) ORDER BY trans_id""".stripMargin
      }),

    // UNION ALL MV maintenance (E164): union is LINEAR, so an append-only
    // interval on either source refreshes with ONE application of the
    // definition to the pair of deltas (leg 1 maps Δfact, leg 2 maps Δdim;
    // a quiet leg substitutes an empty frame). Reason must name the union
    // tier; contents must equal the direct union of the final sources.
    Q("cdc_sql_mv_incr_union",
      (s, _) => {
        val cat = s"graft_mu${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mu").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/archive", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(900, 'c900', 'visit', 'SKU900', 11, 'pc', NULL)")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.all_events AS " +
          s"SELECT trans_id, event, amount FROM $cat.db.retail WHERE amount >= 20 " +
          s"UNION ALL SELECT trans_id, event, amount FROM $cat.db.archive")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL), " +
          "(501, 'c501', 'cart', 'SKU501', 5, 'pc', NULL)") // filtered out
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(901, 'c901', 'cart', 'SKU901', 7, 'tablet', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.all_events')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-union"),
          s"expected the union IVM path, got '$refreshed'")
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.all_events ORDER BY trans_id")
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .filter(_._3 >= 20) ++
          Seq((500L, "visit", 555), (900L, "visit", 11), (901L, "cart", 7)))
          .sortBy(_._1)
          .map { case (id, ev, amt) => s"(CAST($id AS BIGINT), '$ev', $amt)" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // AGGREGATE over a UNION ALL MV (E164 composition — completes the
    // {row, aggregate} × {single-source, join, union} maintenance matrix):
    // per-event totals over retail ∪ archive refresh by aggregating the
    // single delta application and merging only the changed groups.
    Q("cdc_sql_mv_incr_union_agg",
      (s, _) => {
        val cat = s"graft_mua${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mua").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/archive", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(900, 'c900', 'visit', 'SKU900', 11, 'pc', NULL)")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_tot " +
          s"TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(*) AS n FROM (" +
          s"  SELECT event, amount FROM $cat.db.retail " +
          s"  UNION ALL SELECT event, amount FROM $cat.db.archive" +
          s") GROUP BY event")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(901, 'c901', 'wish', 'SKU901', 7, 'tablet', NULL)") // new group
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.ev_tot')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-union-agg"),
          s"expected the union-agg IVM path, got '$refreshed'")
        s.sql(s"SELECT event, total, n FROM $cat.db.ev_tot ORDER BY event")
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (_, _, ev, _, amt, _, _) => (ev, amt) } ++
          Seq(("visit", 555), ("visit", 11), ("wish", 7)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._2.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // THREE-source JOIN MV maintenance (E162 generalized): fact ⋈ dim ⋈ dim
    // refreshes with the telescoping delta Σᵢ (pre@v0 ⋈ Δᵢ ⋈ post@v1) — one
    // interval touches all three sources, so every mixed Δ-product fires
    // and must land exactly once. Reason must name the join tier.
    Q("cdc_sql_mv_incr_join3",
      (s, _) => {
        val cat = s"graft_mj3${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mj3").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('visit', 'browse'), ('cart', 'intent')")
        TransactionalTable.create(s, s"$warehouse/db/devcat",
          org.apache.spark.sql.types.StructType.fromDDL("device STRING, dtier STRING"),
          "device", None)
        s.sql(s"INSERT INTO $cat.db.devcat VALUES ('pc', 'desktop'), ('tablet', 'handheld')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.fact3 AS " +
          s"SELECT r.trans_id, r.amount, c.cat, v.dtier " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event " +
          s"JOIN $cat.db.devcat v ON r.device = v.device")
        // all three sources advance in one interval
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'like', 'SKU500', 555, 'mobile', NULL)") // Δfact⋈Δdim⋈Δdim
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('like', 'social')")
        s.sql(s"INSERT INTO $cat.db.devcat VALUES ('mobile', 'handheld')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.fact3')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join"),
          s"expected the join IVM path, got '$refreshed'")
        s.sql(s"SELECT trans_id, amount, cat, dtier FROM $cat.db.fact3 " +
          "ORDER BY trans_id")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent", "like" -> "social")
        val devs = Map("pc" -> "desktop", "tablet" -> "handheld", "mobile" -> "handheld")
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, dev, _) => (id, ev, amt, dev) } :+
          ((500L, "like", 555, "mobile")))
          .filter(r => cats.contains(r._2) && devs.contains(r._4))
          .sortBy(_._1)
          .map { case (id, ev, amt, dev) =>
            s"(CAST($id AS BIGINT), $amt, '${cats(ev)}', '${devs(dev)}')" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, amount, cat, dtier) ORDER BY trans_id""".stripMargin
      }),

    // AGGREGATE over a JOIN MV maintenance (E162 composition): the
    // star-schema summary table — per-category totals over fact ⋈ dim —
    // refreshes by aggregating the join's IVM row delta and merging only
    // the changed groups. Reason must name the join-agg tier.
    Q("cdc_sql_mv_incr_join_agg",
      (s, _) => {
        val cat = s"graft_mja${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mja").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('visit', 'browse'), ('cart', 'intent')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.cat_totals AS " +
          s"SELECT c.cat, SUM(r.amount) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event " +
          s"GROUP BY c.cat")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('like', 'social')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.cat_totals')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join-agg"),
          s"expected the join-agg IVM path, got '$refreshed'")
        s.sql(s"SELECT cat, total, n FROM $cat.db.cat_totals ORDER BY cat")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent", "like" -> "social")
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) } :+
          ((500L, "visit", 555)))
          .filter(r => cats.contains(r._2))
          .groupBy(r => cats(r._2)).toSeq.sortBy(_._1)
          .map { case (cat, rs) =>
            s"('$cat', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(cat, total, n) ORDER BY cat""".stripMargin
      }),

    // JOIN-agg MV RETRACTION (E170): a delete-bearing interval on the
    // star-schema summary net-merges via the SIGNED telescoping delta —
    // each term's sign is its single delta operand's image kind; an UPDATE
    // (delete+insert changelog pair) nets exactly, a category losing its
    // last fact leaves storage, and a Δdim insert births a group from OLD
    // facts. The reason must name the join retraction tier.
    Q("cdc_sql_mv_incr_join_retract",
      (s, _) => {
        val cat = s"graft_mjr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mjr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES " +
          "('visit', 'browse'), ('cart', 'intent'), ('like', 'social')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.cat_tot " +
          s"TBLPROPERTIES('pk'='cat') AS " +
          s"SELECT c.cat, SUM(r.amount) AS total, COUNT(r.amount) AS na, " +
          s"COUNT(*) AS n " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event " +
          s"GROUP BY c.cat")
        // churn: an UPDATE, a group-KILLING fact delete, a Δfact insert,
        // and a Δdim insert joining facts already present at v0
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'cart'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'like', 'SKU500', 7, 'pc', NULL)")
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('purchase', 'buy')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.cat_tot')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join-agg-retract"),
          s"expected the join retraction path, got '$refreshed'")
        s.sql(s"SELECT cat, total, na, n FROM $cat.db.cat_tot ORDER BY cat")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent",
          "like" -> "social", "purchase" -> "buy")
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 19L) amt + 100 else amt) }
          .filter { case (_, ev, _) => ev != "cart" } :+
          ((500L, "like", 7)))
          .filter(r => cats.contains(r._2))
        val rows = after.groupBy(r => cats(r._2)).toSeq.sortBy(_._1)
          .map { case (c, rs) =>
            s"('$c', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(cat, total, na, n) ORDER BY cat""".stripMargin
      }),

    // KEYED ROW MV retraction (E177): the reference's enriched-fact shape —
    // a row-preserving fact ⋈ dim MV with an EXPLICIT pk (the keyed-output
    // contract) — survives a delete-bearing interval by netting the signed
    // telescoping terms BY FULL ROW and merging on the pk: a fact UPDATE
    // rewrites its row, a fact DELETE removes its key, a dim UPDATE
    // rewrites every matching enriched row, inserts birth keys. Reason must
    // name the keyed join retraction tier.
    Q("cdc_sql_mv_keyed_retract",
      (s, _) => {
        val cat = s"graft_mkr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mkr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES " +
          "('visit', 'browse'), ('cart', 'intent'), ('like', 'social')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.fact_enriched " +
          s"TBLPROPERTIES('pk'='trans_id') AS " +
          s"SELECT r.trans_id, r.amount, c.cat " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event")
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE trans_id = 21")
        s.sql(s"UPDATE $cat.db.evcat SET cat = 'browsing' WHERE event = 'visit'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'like', 'SKU500', 7, 'pc', NULL)")
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('purchase', 'buy')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.fact_enriched')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join-retract"),
          s"expected the keyed row retraction path, got '$refreshed'")
        s.sql(s"SELECT trans_id, amount, cat FROM $cat.db.fact_enriched " +
          "ORDER BY trans_id")
      },
      Some {
        val cats = Map("visit" -> "browsing", "cart" -> "intent",
          "like" -> "social", "purchase" -> "buy")
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 19L) amt + 100 else amt) }
          .filter { case (id, ev, _) => id != 21L && cats.contains(ev) } :+
          ((500L, "like", 7)))
          .sortBy(_._1)
          .map { case (id, ev, amt) =>
            s"(CAST($id AS BIGINT), $amt, '${cats(ev)}')" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, amount, cat) ORDER BY trans_id""".stripMargin
      }),

    // SELF-join MV maintenance (E171): the telescoping delta stated over
    // relation OCCURRENCES — a device-cooccurrence summary (retail ⋈ retail
    // ON device) refreshes through the signed occurrence terms under an
    // interval carrying an UPDATE, a group-killing DELETE, and an INSERT
    // whose Δ⋈Δ product must land exactly once. Reason must name the join
    // retraction tier (occurrence substitution is positional per identifier).
    Q("cdc_sql_mv_incr_selfjoin",
      (s, _) => {
        val cat = s"graft_msj${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_msj").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.dev_pairs " +
          s"TBLPROPERTIES('pk'='dev') AS " +
          s"SELECT a.device AS dev, SUM(b.amount) AS total, " +
          s"COUNT(b.amount) AS na, COUNT(*) AS n " +
          s"FROM $cat.db.retail a JOIN $cat.db.retail b " +
          s"ON a.device = b.device GROUP BY a.device")
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE device = 'mobile'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 7, 'tablet', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.dev_pairs')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join-agg-retract"),
          s"expected the self-join retraction path, got '$refreshed'")
        s.sql(s"SELECT dev, total, na, n FROM $cat.db.dev_pairs ORDER BY dev")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, _, _, amt, dev, _) => (id, dev, amt) }
          .map { case (id, dev, amt) => (id, dev, if (id == 19L) amt + 100 else amt) }
          .filter { case (_, dev, _) => dev != "mobile" }) :+
          ((500L, "tablet", 7))
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (dev, rs) =>
            val k = rs.size.toLong
            s"('$dev', CAST(${k * rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${k * k} AS BIGINT), CAST(${k * k} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(dev, total, na, n) ORDER BY dev""".stripMargin
      }),

    // UNION-agg MV RETRACTION (E170): deletes and updates on EITHER leg of
    // the union net out per group through the same signed algebra — union
    // is linear, so each sign takes ONE definition application over the
    // leg images. A group fed by both legs survives losing one leg's rows;
    // a group losing its last row on its only leg dies.
    Q("cdc_sql_mv_incr_union_retract",
      (s, _) => {
        val cat = s"graft_mur${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mur").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/archive", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(900, 'c900', 'visit', 'SKU900', 11, 'pc', NULL)")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_tot " +
          s"TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(amount) AS na, " +
          s"COUNT(*) AS n FROM (" +
          s"  SELECT event, amount FROM $cat.db.retail " +
          s"  UNION ALL SELECT event, amount FROM $cat.db.archive" +
          s") GROUP BY event")
        // churn on BOTH legs: retail kills a whole group + updates one row;
        // archive retracts its visit contribution and births a new group
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'purchase'")
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 21")
        s.sql(s"DELETE FROM $cat.db.archive WHERE trans_id = 900")
        s.sql(s"INSERT INTO $cat.db.archive VALUES " +
          "(901, 'c901', 'wish', 'SKU901', 7, 'tablet', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.ev_tot')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-union-agg-retract"),
          s"expected the union retraction path, got '$refreshed'")
        s.sql(s"SELECT event, total, na, n FROM $cat.db.ev_tot ORDER BY event")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 21L) amt + 100 else amt) }
          .filter { case (_, ev, _) => ev != "purchase" }) :+
          ((901L, "wish", 7))
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, na, n) ORDER BY event""".stripMargin
      }),

    // Aggregate MV maintenance (E108): a GROUP BY SUM/COUNT/MIN/MAX view
    // refreshes by merging per-group DELTAS of the append-only interval —
    // only changed groups rewrite (reason must say incremental-agg, and the
    // final per-event totals must equal the full recompute's).
    Q("cdc_sql_mv_agg",
      (s, _) => {
        val cat = s"graft_ma2${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_ma2").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.event_totals AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(*) AS n, MAX(amount) AS mx " +
          s"FROM $cat.db.retail GROUP BY event")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL), " +
          "(501, 'c501', 'cart', 'SKU501', 5, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.event_totals')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg"),
          s"expected the aggregate delta-merge path, got '$refreshed'")
        s.sql(s"SELECT event, total, n, mx FROM $cat.db.event_totals ORDER BY event")
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) } ++
          Seq((500L, "visit", 555), (501L, "cart", 5)))
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), ${rs.map(_._3).max})"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n, mx) ORDER BY event""".stripMargin
      }),

    // Aggregate MV RETRACTION (E111 — full IVM): an interval carrying
    // deletes AND updates net-merges into a SUM/COUNT(+pairs) MV — updates
    // (delete+insert changelog pairs) net exactly, a group whose COUNT(*)
    // reaches zero leaves storage. The reason must name the retraction path.
    Q("cdc_sql_mv_agg_retract",
      (s, _) => {
        val cat = s"graft_mar${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mar").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.etot AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(amount) AS na, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY event")
        // churn: an UPDATE, a DELETE, and the DEATH of a whole group
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 6")
        s.sql(s"DELETE FROM $cat.db.retail WHERE trans_id = 33")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'list'")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.etot')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-retract"),
          s"expected the retraction path, got '$refreshed'")
        s.sql(s"SELECT event, total, na, n FROM $cat.db.etot ORDER BY event")
      },
      Some {
        val after = CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 6L) amt + 100 else amt) }
          .filter { case (id, ev, _) => id != 33L && ev != "list" }
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, na, n) ORDER BY event""".stripMargin
      }),

    // AVG MV maintenance with declared companions (E179): AVG(x) maintains
    // incrementally — through the RETRACTION tier too — when the definition
    // also carries SUM(x) and COUNT(x); the merge recomputes avg = sum/count
    // per changed group from the exactly-maintained companions (bit-equal to
    // a fresh Average for integral inputs). Reason must name the retraction
    // path; DuckDB recomputes the whole aggregate as the oracle.
    Q("cdc_sql_mv_avg",
      (s, _) => {
        val cat = s"graft_mav${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mav").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_avg " +
          s"TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(amount) AS na, " +
          s"COUNT(*) AS n, AVG(amount) AS avg_amt " +
          s"FROM $cat.db.retail GROUP BY event")
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE trans_id = 21")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'list'")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.ev_avg')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-retract"),
          s"expected the retraction path with AVG companions, got '$refreshed'")
        s.sql(s"SELECT event, total, na, n, avg_amt FROM $cat.db.ev_avg ORDER BY event")
      },
      Some {
        val after = CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 19L) amt + 100 else amt) }
          .filter { case (id, ev, _) => id != 21L && ev != "list" }
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            val sum = rs.map(_._3.toLong).sum
            val avg = sum.toDouble / rs.size
            s"('$ev', CAST($sum AS BIGINT), CAST(${rs.size} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST($avg AS DOUBLE))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, na, n, avg_amt) ORDER BY event""".stripMargin
      }),

    // COUNT(DISTINCT) MV maintenance (E180): the per-group value-count aux
    // table makes the one aggregate multiset storage cannot express
    // maintainable — an UPDATE that merely moves a second copy of a value
    // leaves the distinct count FLAT (only the aux knows), a last-copy
    // retraction drops it, a whole-device delete kills the group, and an
    // unseen event raises it. Reason must name the distinct path.
    Q("cdc_sql_mv_count_distinct",
      (s, _) => {
        val cat = s"graft_mcd${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mcd").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.dev_events " +
          s"TBLPROPERTIES('pk'='device') AS " +
          s"SELECT device, COUNT(DISTINCT event) AS dev_events, " +
          s"SUM(amount) AS total, COUNT(amount) AS na, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY device")
        // 27 like→visit: tablet still holds 'like' via 47 (dv flat); then
        // 47 like→visit too (dv drops); mobile dies; pc gains 'share'
        s.sql(s"UPDATE $cat.db.retail SET event = 'visit' WHERE trans_id = 27")
        s.sql(s"UPDATE $cat.db.retail SET event = 'visit' WHERE trans_id = 47")
        s.sql(s"DELETE FROM $cat.db.retail WHERE device = 'mobile'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'share', 'SKU500', 7, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.dev_events')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-distinct"),
          s"expected the count-distinct path, got '$refreshed'")
        s.sql(s"SELECT device, dev_events, total, na, n FROM $cat.db.dev_events " +
          "ORDER BY device")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, dev, _) => (id, ev, amt, dev) }
          .map { case (id, ev, amt, dev) =>
            (id, if (id == 27L || id == 47L) "visit" else ev, amt, dev) }
          .filter { case (_, _, _, dev) => dev != "mobile" }) :+
          ((500L, "share", 7, "pc"))
        val rows = after.groupBy(_._4).toSeq.sortBy(_._1)
          .map { case (dev, rs) =>
            s"('$dev', CAST(${rs.map(_._2).distinct.size} AS BIGINT), " +
              s"CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(device, dev_events, total, na, n) ORDER BY device""".stripMargin
      }),

    // MIN/MAX RETRACTION via the value-count aux (E197, opt-in
    // TBLPROPERTIES('retract_minmax')): deleting the row that holds a
    // group's extremum re-derives MIN/MAX from the LIVE value multiset —
    // the one thing the cheap least/greatest fold cannot do — while
    // duplicate-extremum churn stays flat; group death and an UPDATE
    // moving the max ride the same interval. Reason must name the aux
    // path (never recompute).
    Q("cdc_sql_mv_minmax_retract",
      (s, _) => {
        val cat = s"graft_mmr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mmr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_range " +
          s"TBLPROPERTIES('pk'='event', 'retract_minmax'='true') AS " +
          s"SELECT event, MIN(amount) AS mn, MAX(amount) AS mx, " +
          s"SUM(amount) AS total, COUNT(amount) AS na, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY event")
        // an UPDATE that MOVES an extremum, a group-killing delete, a birth
        s.sql(s"UPDATE $cat.db.retail SET amount = 1 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'list'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 999, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.ev_range')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-distinct"),
          s"expected the aux path for MIN/MAX retraction, got '$refreshed'")
        s.sql(s"SELECT event, mn, mx, total, na, n FROM $cat.db.ev_range " +
          "ORDER BY event")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 19L) 1 else amt) }
          .filter { case (_, ev, _) => ev != "list" } :+
          ((500L, "visit", 999)))
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            val as = rs.map(_._3.toLong)
            s"('$ev', CAST(${as.min} AS BIGINT), CAST(${as.max} AS BIGINT), " +
              s"CAST(${as.sum} AS BIGINT), CAST(${rs.size} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, mn, mx, total, na, n) ORDER BY event""".stripMargin
      }),

    // DERIVED-column MV maintenance (E194): a computed metric over
    // maintained aggregates (SUM(amount)/COUNT(*) — the per-event average
    // ticket, the ratio shape every summary table carries) recomputes per
    // merged group from the exactly-maintained companions, append AND
    // retraction; an UPDATE + group-killing DELETE + INSERT ride one
    // interval. Reason must name the retraction path (never recompute).
    Q("cdc_sql_mv_derived",
      (s, _) => {
        val cat = s"graft_mdr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mdr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_ratio " +
          s"TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(amount) AS na, " +
          s"COUNT(*) AS n, SUM(amount) / CAST(COUNT(*) AS DOUBLE) AS avg_ticket " +
          s"FROM $cat.db.retail GROUP BY event")
        s.sql(s"UPDATE $cat.db.retail SET amount = amount + 100 WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'list'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'visit', 'SKU500', 7, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.ev_ratio')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-retract"),
          s"expected the retraction path with the derived column, got '$refreshed'")
        s.sql(s"SELECT event, total, na, n, avg_ticket FROM $cat.db.ev_ratio " +
          "ORDER BY event")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) }
          .map { case (id, ev, amt) => (id, ev, if (id == 19L) amt + 100 else amt) }
          .filter { case (_, ev, _) => ev != "list" } :+
          ((500L, "visit", 7)))
        val rows = after.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            val sum = rs.map(_._3.toLong).sum
            val ratio = sum.toDouble / rs.size
            s"('$ev', CAST($sum AS BIGINT), CAST(${rs.size} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST($ratio AS DOUBLE))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, na, n, avg_ticket) ORDER BY event""".stripMargin
      }),

    // SUM/AVG(DISTINCT) MV maintenance (E182): the SAME value-count aux
    // answers every distinct aggregate — the overlay reads SUM(__val) /
    // AVG(__val) over the live aux rows per changed group, so collapsing
    // two amounts into one duplicate drops the distinct sum by the value
    // exactly once while COUNT(*) stays flat; group death and births ride
    // the same interval. Reason must name the distinct path.
    Q("cdc_sql_mv_sum_distinct",
      (s, _) => {
        val cat = s"graft_msd${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_msd").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.dev_amts " +
          s"TBLPROPERTIES('pk'='device') AS " +
          s"SELECT device, SUM(DISTINCT amount) AS sd, AVG(DISTINCT amount) AS ad, " +
          s"COUNT(DISTINCT amount) AS dv, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY device")
        // two tablet rows collapse onto one amount (distinct sum counts 777
        // once), mobile dies, pc gains a fresh amount
        s.sql(s"UPDATE $cat.db.retail SET amount = 777 WHERE trans_id = 27")
        s.sql(s"UPDATE $cat.db.retail SET amount = 777 WHERE trans_id = 47")
        s.sql(s"DELETE FROM $cat.db.retail WHERE device = 'mobile'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'share', 'SKU500', 7, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.dev_amts')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-distinct"),
          s"expected the distinct path, got '$refreshed'")
        s.sql(s"SELECT device, sd, ad, dv, n FROM $cat.db.dev_amts ORDER BY device")
      },
      Some {
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, _, _, amt, dev, _) => (id, amt, dev) }
          .map { case (id, amt, dev) =>
            (id, if (id == 27L || id == 47L) 777 else amt, dev) }
          .filter { case (_, _, dev) => dev != "mobile" }) :+
          ((500L, 7, "pc"))
        val rows = after.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (dev, rs) =>
            val dvals = rs.map(_._2.toLong).distinct
            val avg = dvals.sum.toDouble / dvals.size
            s"('$dev', CAST(${dvals.sum} AS BIGINT), CAST($avg AS DOUBLE), " +
              s"CAST(${dvals.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(device, sd, ad, dv, n) ORDER BY device""".stripMargin
      }),

    // COUNT(DISTINCT) MV maintenance on the JOIN tier (E181): the per-group
    // value-count aux is fed by the signed telescoping pair terms of the
    // fact ⋈ dim delta — a device UPDATE that another row still covers
    // leaves the distinct count flat, a group-killing fact delete drops its
    // row, and a Δfact/Δdim insert pair births a group, all in ONE interval
    // refreshed without recompute. Reason must name the join distinct tier.
    Q("cdc_sql_mv_count_distinct_join",
      (s, _) => {
        val cat = s"graft_mdj${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mdj").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        TransactionalTable.create(s, s"$warehouse/db/evcat",
          org.apache.spark.sql.types.StructType.fromDDL("event STRING, cat STRING"),
          "event", None)
        s.sql(s"INSERT INTO $cat.db.evcat VALUES " +
          "('visit', 'browse'), ('cart', 'intent'), ('like', 'social')")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.cat_devs " +
          s"TBLPROPERTIES('pk'='cat') AS " +
          s"SELECT c.cat, COUNT(DISTINCT r.device) AS devs, " +
          s"SUM(r.amount) AS total, COUNT(r.amount) AS na, COUNT(*) AS n " +
          s"FROM $cat.db.retail r JOIN $cat.db.evcat c ON r.event = c.event " +
          s"GROUP BY c.cat")
        s.sql(s"UPDATE $cat.db.retail SET device = 'pc' WHERE trans_id = 19")
        s.sql(s"DELETE FROM $cat.db.retail WHERE event = 'cart'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'like', 'SKU500', 7, 'tablet', NULL)")
        s.sql(s"INSERT INTO $cat.db.evcat VALUES ('purchase', 'buy')")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.cat_devs')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-join-agg-distinct"),
          s"expected the join distinct tier, got '$refreshed'")
        s.sql(s"SELECT cat, devs, total, na, n FROM $cat.db.cat_devs ORDER BY cat")
      },
      Some {
        val cats = Map("visit" -> "browse", "cart" -> "intent",
          "like" -> "social", "purchase" -> "buy")
        val after = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, dev, _) => (id, ev, amt, dev) }
          .map { case (id, ev, amt, dev) =>
            (id, ev, amt, if (id == 19L) "pc" else dev) }
          .filter { case (_, ev, _, _) => ev != "cart" } :+
          ((500L, "like", 7, "tablet")))
          .filter(r => cats.contains(r._2))
        val rows = after.groupBy(r => cats(r._2)).toSeq.sortBy(_._1)
          .map { case (c, rs) =>
            s"('$c', CAST(${rs.map(_._4).distinct.size} AS BIGINT), " +
              s"CAST(${rs.map(_._3.toLong).sum} AS BIGINT), " +
              s"CAST(${rs.size} AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(cat, devs, total, na, n) ORDER BY cat""".stripMargin
      }),

    // Transparent MV rewrite (E110): with the view opted in, the RAW
    // aggregate query over the source is answered from the FRESH MV's
    // storage (plan must lose its Aggregate), bit-identical to computing
    // from source; after a source commit the stale MV must NOT serve —
    // the same query falls back to the source until refresh_mv.
    Q("cdc_sql_mv_rewrite",
      (s, _) => {
        val cat = s"graft_mr${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mr").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val q = s"SELECT event, SUM(amount) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY event"
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.ev_tot AS $q")
        try {
          s.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.ev_tot")
          val accel = s.sql(q)
          require(!accel.queryExecution.optimizedPlan.toString.contains("Aggregate"),
            "fresh MV must answer the exact-match aggregate (no Aggregate in plan)")
          // roll-up tier: the GLOBAL aggregate re-aggregates the MV (sum of
          // sums, sum of counts) — the source relation must not be scanned
          val global = s.sql(s"SELECT SUM(amount) AS total, COUNT(*) AS n " +
            s"FROM $cat.db.retail")
          require(!global.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "global aggregate must roll up from the MV, not scan the source")
          val gRow = global.collect().head
          require(gRow.getLong(1) == 12L, s"roll-up count wrong: $gRow")
          // staleness: a new commit makes the MV ineligible — the SAME query
          // must recompute from source (plan has its Aggregate back)
          s.sql(s"INSERT INTO $cat.db.retail VALUES " +
            "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
          val fallback = s.sql(q)
          require(fallback.queryExecution.optimizedPlan.toString.contains("Aggregate"),
            "stale MV must not serve old data")
          fallback.orderBy("event")
        } finally s.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) } :+
          ((500L, "visit", 555)))
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), CAST(${rs.size} AS BIGINT))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // MV rewrite FILTER-SUBSUMPTION tier (E110 extension): a query whose
    // WHERE strictly narrows a fresh MV's WHERE is served by MV storage +
    // the residual conjuncts — proven for both the aggregate shape
    // (residual on the group key filters stored groups) and the
    // row-preserving shape; a source commit reverts the same query to the
    // source until refresh (stale fallback).
    Q("cdc_sql_mv_rewrite_filter",
      (s, _) => {
        val cat = s"graft_mf${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mf").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.sig AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail WHERE amount >= 5 GROUP BY event")
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.sigrows AS " +
          s"SELECT trans_id, event, amount FROM $cat.db.retail WHERE amount >= 5")
        val q = s"SELECT event, SUM(amount) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail WHERE amount >= 5 AND event <> 'list' GROUP BY event"
        try {
          s.conf.set(graft.sql.GraftMvRewriteRule.ConfKey,
            s"$cat.db.sig,$cat.db.sigrows")
          // aggregate tier: MV storage + residual on the group key — the
          // source relation must NOT appear in the plan
          require(!s.sql(q).queryExecution.optimizedPlan.toString.contains("db.retail"),
            "subsumed aggregate must read MV storage, not the source")
          // row tier: residual on an exposed column over the row MV
          val rq = s"SELECT trans_id, amount FROM $cat.db.retail " +
            s"WHERE amount >= 5 AND event = 'cart'"
          require(!s.sql(rq).queryExecution.optimizedPlan.toString.contains("db.retail"),
            "subsumed row query must read MV storage, not the source")
          require(s.sql(rq).collect().map(_.getLong(0)).sorted.toSeq == Seq(21L, 30L),
            "row-tier residual must filter MV rows")
          // stale fallback: a source commit reverts the SAME query to source
          s.sql(s"INSERT INTO $cat.db.retail VALUES " +
            "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
          require(s.sql(q).queryExecution.optimizedPlan.toString.contains("db.retail"),
            "stale MV must not serve the subsumed query")
          s.sql(q).orderBy("event")
        } finally s.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
      },
      Some {
        val rows = (CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => (id, ev, amt) } :+
          ((500L, "visit", 555)))
          .filter { case (_, ev, amt) => amt >= 5 && ev != "list" }
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (ev, rs) =>
            s"('$ev', CAST(${rs.map(_._3.toLong).sum} AS BIGINT), CAST(${rs.size} AS BIGINT))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(event, total, n) ORDER BY event""".stripMargin
      }),

    // MV rewrite COUNT(DISTINCT) ROLL-UP tier (E200): distinct counts are
    // not summable, so the classic roll-up cannot serve a coarser
    // COUNT(DISTINCT) from stored counts — but the E180 value-count aux
    // beside the MV holds the live per-(group, value) multiset, and the
    // coarser answer is exactly COUNT(DISTINCT __val) over its live rows.
    // The aux exists only after an INCREMENTAL refresh (a recompute drops
    // it), so the flow is create → mutate → refresh_mv (distinct path
    // asserted) → accelerate (plan must NOT read the source) → stale
    // fallback after a source commit (plan reads the source again).
    Q("cdc_sql_mv_rewrite_distinct",
      (s, _) => {
        val cat = s"graft_mrd${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mrd").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.dev_events " +
          s"TBLPROPERTIES('pk'='device') AS " +
          s"SELECT device, COUNT(DISTINCT event) AS dev_events, COUNT(*) AS n " +
          s"FROM $cat.db.retail GROUP BY device")
        // churn that exercises the aux (value moves, group death, birth),
        // then the incremental refresh that BOOTSTRAPS + maintains it
        s.sql(s"UPDATE $cat.db.retail SET event = 'visit' WHERE trans_id = 27")
        s.sql(s"DELETE FROM $cat.db.retail WHERE device = 'mobile'")
        s.sql(s"INSERT INTO $cat.db.retail VALUES " +
          "(500, 'c500', 'share', 'SKU500', 7, 'pc', NULL)")
        val refreshed = s.sql(s"CALL $cat.system.refresh_mv('db.dev_events')")
          .select("reason").collect().head.getString(0)
        require(refreshed.startsWith("incremental-agg-distinct"),
          s"expected the count-distinct path, got '$refreshed'")
        val qGlobal = s"SELECT COUNT(DISTINCT event) AS dev_events FROM $cat.db.retail"
        val qNarrow = s"SELECT COUNT(DISTINCT event) AS dev_events " +
          s"FROM $cat.db.retail WHERE device <> 'pc'"
        val wantGlobal = s.sql(qGlobal).collect().head.getLong(0) // pre-opt-in
        val wantNarrow = s.sql(qNarrow).collect().head.getLong(0)
        try {
          s.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.dev_events")
          // coarser COUNT(DISTINCT): answered from the aux, source unread
          val accel = s.sql(qGlobal)
          require(!accel.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "global COUNT(DISTINCT) must answer from the value-count aux")
          require(accel.collect().head.getLong(0) == wantGlobal,
            "aux-served distinct count must equal the source's")
          // residual on the group key filters aux rows, still source-free
          val narrow = s.sql(qNarrow)
          require(!narrow.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "group-key residual must filter aux rows, not re-scan the source")
          require(narrow.collect().head.getLong(0) == wantNarrow,
            "residual-filtered distinct count must equal the source's")
          // SUM/AVG(DISTINCT) ride the SAME tier (E200 generalization): a
          // second MV whose aux holds the (device, amount) multiset serves
          // all three distinct aggregates of `amount` in one aux scan;
          // dev_events (distinct arg `event`) must fall through for this
          // query and the candidate iteration must land on dev_amounts
          s.sql(s"CREATE MATERIALIZED VIEW $cat.db.dev_amounts " +
            s"TBLPROPERTIES('pk'='device') AS " +
            s"SELECT device, SUM(DISTINCT amount) AS sda, " +
            s"AVG(DISTINCT amount) AS ada, COUNT(DISTINCT amount) AS cda, " +
            s"COUNT(*) AS n FROM $cat.db.retail GROUP BY device")
          s.sql(s"INSERT INTO $cat.db.retail VALUES " +
            "(502, 'c502', 'visit', 'SKU502', 41, 'pc', NULL)")
          for (v <- Seq("dev_events", "dev_amounts")) {
            val reason = s.sql(s"CALL $cat.system.refresh_mv('db.$v')")
              .select("reason").collect().head.getString(0)
            require(reason.startsWith("incremental-agg-distinct"),
              s"$v: expected the distinct path, got '$reason'")
          }
          val qAmt = s"SELECT SUM(DISTINCT amount) AS sda, " +
            s"AVG(DISTINCT amount) AS ada, COUNT(DISTINCT amount) AS cda " +
            s"FROM $cat.db.retail"
          s.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
          val wantAmt = s.sql(qAmt).collect().head
          s.conf.set(graft.sql.GraftMvRewriteRule.ConfKey,
            s"$cat.db.dev_events,$cat.db.dev_amounts")
          val accelAmt = s.sql(qAmt)
          require(!accelAmt.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "SUM/AVG/COUNT(DISTINCT) must all answer from the value-count aux")
          require(accelAmt.collect().head == wantAmt,
            "aux-served distinct sum/avg/count must equal the source's")
          // stale fallback: a source commit (new event 'promo') reverts the
          // SAME query to the source until the next refresh
          s.sql(s"INSERT INTO $cat.db.retail VALUES " +
            "(501, 'c501', 'promo', 'SKU501', 9, 'tv', NULL)")
          val fallback = s.sql(qGlobal)
          require(fallback.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "stale MV must not serve the distinct roll-up")
          fallback
        } finally s.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
      },
      Some {
        val events = ((CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, _, dev, _) => (id, ev, dev) }
          .map { case (id, ev, dev) => (id, if (id == 27L) "visit" else ev, dev) }
          .filter { case (_, _, dev) => dev != "mobile" }
          .map(_._2)) :+ "share" :+ "promo").distinct
        s"SELECT CAST(${events.size} AS BIGINT) AS dev_events"
      }),

    // MV rewrite JOIN-CONTAINMENT tier (the remaining classic
    // Calcite/Oracle tier after exact / roll-up / filter-subsumption): a
    // query joining the fact to a dimension a ROW-PRESERVING MV already
    // joined — here aggregating over that join — is served by aggregating
    // MV STORAGE (sound for every aggregate: storage rows are the join's
    // rows 1:1). Near-miss (different join key) and staleness both fall
    // through to the source, plan-asserted.
    Q("cdc_sql_mv_rewrite_join",
      (s, _) => {
        val cat = s"graft_mj${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mj").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val dsch = org.apache.spark.sql.types.StructType.fromDDL(
          "device STRING, class STRING")
        val dim = TransactionalTable.create(s, s"$warehouse/db/devices", dsch,
          "device", None)
        import s.implicits._
        dim.append(Seq(("tablet", "handheld"), ("mobile", "handheld"),
          ("pc", "desktop")).toDF("device", "class"))
        s.sql(s"CREATE MATERIALIZED VIEW $cat.db.joined AS " +
          s"SELECT f.trans_id, f.event, f.amount, d.class " +
          s"FROM $cat.db.retail f JOIN $cat.db.devices d ON f.device = d.device")
        val q = s"SELECT d.class, SUM(f.amount) AS total, COUNT(*) AS n " +
          s"FROM $cat.db.retail f JOIN $cat.db.devices d ON f.device = d.device " +
          s"GROUP BY d.class"
        try {
          s.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.joined")
          // join-containment: ONLY MV storage is scanned — neither source
          // relation appears in the plan, and no Join remains
          val accelPlan = s.sql(q).queryExecution.optimizedPlan.toString
          require(!accelPlan.contains("db.retail") && !accelPlan.contains("db.devices"),
            "aggregate over the MV's stored join must read MV storage only")
          require(!accelPlan.contains("Join"),
            "the join itself must vanish from the accelerated plan")
          // near-miss: a DIFFERENT join key must fall through to the source
          val miss = s.sql(s"SELECT d.class, SUM(f.amount) AS total " +
            s"FROM $cat.db.retail f JOIN $cat.db.devices d ON f.sku = d.device " +
            s"GROUP BY d.class")
          require(miss.queryExecution.optimizedPlan.toString.contains("db.retail"),
            "a different join key must not be claimed by the MV")
          // staleness: a fact commit reverts the SAME query to the source
          s.sql(s"INSERT INTO $cat.db.retail VALUES " +
            "(500, 'c500', 'visit', 'SKU500', 555, 'pc', NULL)")
          require(s.sql(q).queryExecution.optimizedPlan.toString.contains("db.retail"),
            "stale MV must not serve the join query")
          s.sql(q).orderBy("class")
        } finally s.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
      },
      Some {
        val classOf = Map("tablet" -> "handheld", "mobile" -> "handheld",
          "pc" -> "desktop")
        val rows = (CdcFixtures.expectedEndState
          .map { case (_, _, _, _, amt, dev, _) => (classOf(dev), amt) } :+
          (("desktop", 555)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (cls, rs) =>
            s"('$cls', CAST(${rs.map(_._2.toLong).sum} AS BIGINT), CAST(${rs.size} AS BIGINT))"
          }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(class, total, n) ORDER BY class""".stripMargin
      }),

    // Partition-scoped compaction (E89): bin-pack ONE partition's files,
    // carry the rest by reference — table contents must be bit-identical.
    Q("cdc_compact_partitions_state",
      (s, _) => {
        val cat = s"graft_cp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_cp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"CALL $cat.system.compact_partitions('db.retail', 'visit,cart', 1048576)")
          .collect()
        s.sql(s"SELECT trans_id, event, amount FROM $cat.db.retail ORDER BY trans_id")
      },
      Some {
        val rows = CdcFixtures.expectedEndState
          .map { case (id, _, ev, _, amt, _, _) => s"(CAST($id AS BIGINT), '$ev', $amt)" }
          .mkString(",\n  ")
        s"""SELECT * FROM (VALUES
           |  $rows
           |) AS t(trans_id, event, amount) ORDER BY trans_id""".stripMargin
      }),

    // Iceberg `delete_files` metadata-table parity: the MOR delete-file
    // inventory (what one watches to schedule compaction). Two MOR batches →
    // one equality-delete file each: batch 0 deletes its 10 upsert keys
    // (delete-before-insert), batch 1 its 12 upserts + 1 true delete = 13.
    Q("cdc_metadata_delete_files_sql",
      (s, _) => {
        val cat = s"graft_md${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_md").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        def applyMor(lines: Seq[String], b: Long): Unit = {
          import s.implicits._
          val d = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(d)),
            Cdc.deletes(d).select(org.apache.spark.sql.functions.col(Cdc.PrimaryKey)),
            b, graft.table.MergeMode.MergeOnRead)
        }
        applyMor(CdcFixtures.scenario1Lines, 0)
        applyMor(CdcFixtures.scenario2Lines, 1)
        s.sql(s"""SELECT kind, n_rows FROM $cat.db.retail.delete_files
                  ORDER BY n_rows""")
      },
      Some("""SELECT * FROM (VALUES
             |  ('equality-deletes', CAST(10 AS BIGINT)),
             |  ('equality-deletes', CAST(13 AS BIGINT))
             |) AS t(kind, n_rows) ORDER BY n_rows""".stripMargin)),

    // Iceberg `partitions` metadata-table parity: per-partition row totals of
    // the live snapshot, computed from manifests alone (file counts vary with
    // shuffle parallelism, so the oracle pins the invariant columns).
    Q("cdc_metadata_partitions_sql",
      (s, _) => {
        val cat = s"graft_mp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""SELECT partition, n_rows FROM $cat.db.retail.partitions
                  ORDER BY partition""")
      },
      Some("""SELECT * FROM (VALUES
             |  ('cart', CAST(2 AS BIGINT)), ('like', CAST(4 AS BIGINT)),
             |  ('list', CAST(3 AS BIGINT)), ('purchase', CAST(1 AS BIGINT)),
             |  ('visit', CAST(2 AS BIGINT))
             |) AS t(partition, n_rows) ORDER BY partition""".stripMargin)),

    // Metadata-only MIN/MAX/COUNT (GraftCountStarRule manifest fold — Iceberg
    // column-stats parity): the whole answer comes from manifest footer stats,
    // zero data files opened (CatalogSpec asserts the LocalTableScan plan).
    // Oracle = the same aggregates over the golden replayed end state.
    Q("cdc_metadata_minmax_sql",
      (s, _) => {
        val cat = s"graft_mm${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mm").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"""SELECT COUNT(*) AS n, MIN(trans_id) AS min_id,
                  MAX(trans_id) AS max_id, MAX(amount) AS max_amount
                  FROM $cat.db.retail""")
      },
      Some(s"""SELECT COUNT(*) AS n, MIN(trans_id) AS min_id,
              |MAX(trans_id) AS max_id, MAX(amount) AS max_amount
              |FROM ($endStateOracle) t""".stripMargin)),

    // HIDDEN PARTITIONING days(ts) (Iceberg partition-transform parity, the
    // contract the reference's `PARTITIONED BY` DDL implies,
    // `README.md:364-367`): a days(ts)-partitioned table is built from the
    // events fixture through the SQL front door (CREATE + INSERT), then a
    // ts-range aggregate runs through the catalog — partition derivation at
    // write and transform-reversing file pruning at scan, all under oracle.
    Q("cdc_days_partitioned_events",
      (s, d) => {
        val cat = s"graft_dp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_dp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE)
                  PARTITIONED BY (days(ts)) TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_dp")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_dp")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        assert(t.snapshot.files.flatMap(_.partition).distinct.size > 1,
          "test premise: multiple day partitions must exist")
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
                  FROM $cat.db.ev
                  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                    AND ts <  TIMESTAMP '2024-01-20 00:00:00'
                  GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM events
             |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-20 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HIDDEN PARTITIONING months(ts) + partition EVOLUTION migration (the
    // "port an existing Iceberg table with month(ts) partitioning" path):
    // the first half of the fixture lands under days(ts), the table evolves
    // to months(ts), the second half lands under the month spec — then a
    // month-range aggregate answers across BOTH spec eras (per-entry
    // transform reversal). The events fixture covers one calendar month, so
    // the derived ts spreads it across ~5 months deterministically
    // (event_id % 120 days) — the oracle applies the identical shift.
    Q("cdc_month_partitioned_events",
      (s, d) => {
        val cat = s"graft_mp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_mp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE)
                  PARTITIONED BY (days(ts)) TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"),
            expr("timestampadd(DAY, CAST(event_id % 120 AS INT), ts)").as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_mp")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_mp WHERE event_id % 2 = 0")
        s.sql(s"ALTER TABLE $cat.db.ev SET TBLPROPERTIES ('partition'='months(ts)')")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_mp WHERE event_id % 2 = 1")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        assert(t.snapshot.files.map(_.specId).distinct.size == 2,
          "test premise: files from both partition-spec eras must exist")
        val monthParts = t.snapshot.files
          .filter(_.specId == t.snapshot.files.map(_.specId).max)
          .flatMap(_.partition).distinct
        assert(monthParts.size > 1,
          s"test premise: multiple month partitions must exist, got $monthParts")
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
                  FROM $cat.db.ev
                  WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
                    AND ts <  TIMESTAMP '2024-05-01 00:00:00'
                  GROUP BY event_type ORDER BY event_type""")
      },
      Some("""WITH shifted AS (
             |  SELECT event_type, value,
             |    CAST(ts AS TIMESTAMP) + CAST(event_id % 120 AS BIGINT) * INTERVAL 1 DAY AS ts
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM shifted
             |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
             |  AND ts <  TIMESTAMP '2024-05-01 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HIDDEN PARTITIONING bucket(n, col): a hash-bucketed table (xxhash64 mod
    // n at write; point lookups prune to the literal's bucket at scan). The
    // transform is invisible to results — the oracle is the plain filter.
    Q("cdc_bucket_partitioned_lookup",
      (s, d) => {
        val cat = s"graft_bp${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_bp").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE)
                  PARTITIONED BY (bucket(8, user_id)) TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_bp")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_bp")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        assert(t.snapshot.files.flatMap(_.partition).distinct.size > 1,
          "test premise: multiple hash buckets must exist")
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
                  FROM $cat.db.ev WHERE user_id = 7
                  GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM events WHERE user_id = 7
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ANALYZE / NDV statistics (E112, completes the CBO food chain of
    // E63/E88): CALL system.analyze runs one distributed HLL pass and the
    // catalog scan serves distinctCount to the planner. Two oracle rows:
    // the low-cardinality column (5 event types at every sf) stays in the
    // sketch's exact coupon regime → exact COUNT(DISTINCT); the
    // sf-growing user_id column oracles the HLL error contract instead
    // (within 5% of exact). The query also proves the SERVING path by
    // requiring the analyzed NDV in the scan's CBO attribute stats.
    Q("cdc_analyze_ndv",
      (s, d) => {
        val cat = s"graft_nd${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_nd").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE)
                  TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_nd")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_nd")
        val r = s.sql(s"CALL $cat.system.analyze('db.ev', 'event_type,user_id')")
          .collect().head
        val est = r.getString(1).split(",").zip(r.getString(2).split(","))
          .map { case (c, n) => (c, n.toLong) }.toMap
        // event_type (5 values) sits in the sketch's exact coupon regime at
        // ANY sf — oracled as the exact COUNT(DISTINCT). user_id grows with
        // sf past the exact regime, so its row oracles the HLL ERROR
        // CONTRACT instead: within 5% of exact (lgK=12 ⇒ ~1.6% RSE)
        val exactUsers = s.sql(s"SELECT COUNT(DISTINCT user_id) FROM $cat.db.ev")
          .collect().head.getLong(0)
        val userOk =
          if (math.abs(est("user_id") - exactUsers) <= 0.05 * exactUsers) 1L else 0L
        val ndvs = Seq(("event_type", est("event_type")), ("user_id_within_5pct", userOk))
        // serving proof: the scan's CBO stats carry the analyzed NDV
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.planStats.enabled", "true")
          val st = s.sql(s"SELECT * FROM $cat.db.ev").queryExecution.optimizedPlan
            .stats.attributeStats.find(_._1.name == "user_id").map(_._2)
          require(st.exists(_.distinctCount.isDefined),
            s"scan must report analyzed distinctCount to CBO, got $st")
        } finally {
          s.conf.unset("spark.sql.cbo.enabled")
          s.conf.unset("spark.sql.cbo.planStats.enabled")
        }
        import s.implicits._
        ndvs.toDF("col", "ndv").orderBy("col")
      },
      Some("""SELECT col, ndv FROM (
             |  SELECT 'event_type' AS col, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv FROM events
             |  UNION ALL
             |  SELECT 'user_id_within_5pct' AS col, CAST(1 AS BIGINT) AS ndv
             |) t ORDER BY col""".stripMargin)),

    // STORED PROCEDURES (Iceberg CALL catalog.system.* parity): the golden
    // replay maintained entirely through the SQL runbook — tag the good
    // state, take a catastrophic bad batch, CALL rollback_to_snapshot, then
    // CALL compact — and the scan must still answer the golden end state.
    Q("cdc_procedures_maintenance",
      (s, _) => {
        val cat = s"graft_pc${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_pc").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        val good = s.sql(s"CALL $cat.system.create_tag('db.retail', 'good', -1)")
          .collect().head.getLong(0)
        t.merge(t.scan().limit(0), t.scan().select(col(Cdc.PrimaryKey)), batchId = 2)
        assert(t.scan().count() == 0L, "test premise: bad batch emptied the table")
        s.sql(s"CALL $cat.system.rollback_to_snapshot('db.retail', $good)").collect()
        s.sql(s"CALL $cat.system.compact('db.retail', ${1L << 20})").collect()
        s.sql(s"SELECT trans_id, customer_id, event, sku, amount, device, " +
          "date_format(trans_datetime, 'yyyy-MM-dd HH:mm:ss') AS trans_datetime " +
          s"FROM $cat.db.retail ORDER BY trans_id")
      },
      Some(endStateOracle)),

    // Z-ORDER rewrite (rewrite_data_files z-order strategy): the events
    // fixture is loaded, z-ordered on (user_id, event_id), and answered
    // through a 2-D box predicate — after the rewrite every file's manifest
    // stats are tight in BOTH dimensions, so the scan plans only the files
    // whose rectangles intersect the box (premise-asserted). Oracle: the
    // plain relational aggregate.
    Q("cdc_zorder_box_scan",
      (s, d) => {
        import org.apache.spark.sql.types._
        val root = Files.createTempDirectory("graft_zo").toString + "/t"
        val sch = StructType(Seq(StructField("event_id", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val t = TransactionalTable.create(s, root, sch, "event_id", None)
        val noDeletes = graft.util.Frames.empty(s, StructType(Seq(StructField("event_id", LongType))))
        t.merge(Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
          noDeletes, batchId = 0)
        t.compactZOrdered(Seq("user_id", "event_id"), targetFiles = 16)
        val files = t.snapshot.files
        val kept = files.filter { f =>
          f.stats.get("user_id").exists(r => r._1 <= 60L && r._2 >= 30L) &&
            f.pkMin <= 4000L && f.pkMax >= 2000L
        }
        assert(files.size > 4 && kept.size * 2 <= files.size,
          s"z-order premise: the box must prune most files (${kept.size}/${files.size})")
        t.scan()
          .filter(col("user_id").between(30, 60) && col("event_id").between(2000, 4000))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(20,6)")).cast("double").as("total_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM events
             |WHERE user_id BETWEEN 30 AND 60 AND event_id BETWEEN 2000 AND 4000
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // WRITE-AUDIT-PUBLISH (Iceberg branch refs): scenario 2 is staged on an
    // "audit" branch — main still answers the 10-row scenario-1 state while
    // the branch holds the full golden end state — then published as ONE
    // atomic metadata commit. The scan after publish must equal the golden
    // end state, and the branch's replay fence must carry over.
    Q("cdc_wap_publish",
      (s, _) => {
        val t = replay1(s) // main = scenario 1 only
        val b = t.createBranch("audit")
        CdcPipeline.replayLines(s, b, CdcFixtures.scenario2Lines, batchId = 1)
        assert(t.scan().count() == 10L, "main must be unpublished (scenario 1 only)")
        assert(b.scan().count() == 12L, "branch must hold the golden end state")
        t.publish("audit")
        assert(t.snapshot.batchId == 1L, "publish must carry the branch's fence")
        t.scan()
          .select(col("trans_id"), col("customer_id"), col("event"), col("sku"),
            col("amount"), col("device"),
            date_format(col("trans_datetime"), "yyyy-MM-dd HH:mm:ss").as("trans_datetime"))
          .orderBy("trans_id")
      },
      Some(endStateOracle)),

    // PARTITION EVOLUTION (Iceberg spec-evolution parity): the first half of
    // the events fixture lands under identity(event_type); the spec is then
    // evolved to days(ts) through SQL and the second half lands under it.
    // The ts-range aggregate must read era-0 files by value (their partition
    // strings are event types, NOT day ordinals — mis-applying the current
    // transform to them would wrongly prune everything) and prune era-1
    // files by day. Oracle: the same aggregate over the raw events table.
    Q("cdc_partition_evolution",
      (s, d) => {
        val cat = s"graft_pe${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_pe").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        s.sql(s"""CREATE TABLE $cat.db.ev
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE)
                  PARTITIONED BY (event_type) TBLPROPERTIES ('pk'='event_id')""")
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("ev_src_pe")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_pe WHERE event_id % 2 = 0")
        s.sql(s"ALTER TABLE $cat.db.ev SET TBLPROPERTIES ('partition'='days(ts)')")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src_pe WHERE event_id % 2 = 1")
        val t = TransactionalTable.open(s, s"$warehouse/db/ev")
        assert(t.snapshot.files.map(_.specId).distinct.size == 2,
          "test premise: files from both partition-spec eras must exist")
        s.sql(s"""SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
                  FROM $cat.db.ev
                  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                    AND ts <  TIMESTAMP '2024-01-20 00:00:00'
                  GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
             |FROM events
             |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-20 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // STRING PRIMARY KEYS (the DMS envelope's `partition-key-type:
    // primary-key` does not promise integral keys, reference
    // `gen_fake_cdc_data.py:33`): a golden replay against a string-PK table —
    // batch 0 upserts every event under key 'k<event_id>'; batch 1 updates
    // (value doubled) keys with event_id%5=0 ∧ %7≠0 and deletes keys with
    // event_id%7=0. Manifest pruning runs in the xxhash64 key domain; the
    // oracle recomputes the end state relationally.
    Q("cdc_string_pk_end_state",
      (s, d) => stringPkEndState(s, d, graft.table.MergeMode.CopyOnWrite),
      Some(stringPkOracle)),

    // Same replay under merge-on-read: batch 1 lands as data + an equality-
    // delete file keyed by RAW string (exact masking, no hash in the join);
    // the scan-side anti-join must produce the identical end state.
    Q("cdc_string_pk_mor_end_state",
      (s, d) => stringPkEndState(s, d, graft.table.MergeMode.MergeOnRead),
      Some(stringPkOracle)),

    // COMPOSITE PRIMARY KEYS (pk = "event_type,event_id"): the same scenario
    // keyed on a (string, long) pair — merges join on both columns, manifest
    // ranges/blooms run in the xxhash64-of-both key domain. Oracle recomputes
    // the end state relationally.
    Q("cdc_composite_pk_end_state",
      (s, d) => compositePkEndState(s, d, graft.table.MergeMode.CopyOnWrite),
      Some(compositePkOracle)),

    // Same under merge-on-read: the equality-delete file carries BOTH raw key
    // columns and the scan-side anti-join matches on the full pair.
    Q("cdc_composite_pk_mor_end_state",
      (s, d) => compositePkEndState(s, d, graft.table.MergeMode.MergeOnRead),
      Some(compositePkOracle)),

    // SQL MERGE INTO (the reference's verbatim hot-path statements,
    // `spark_sql_merge_into_iceberg.py:118-122,133-136`) applied through the
    // GraftExtensions rule/strategy: scenario1 via the pipeline, then
    // scenario2's upserts and deletes via two MERGE INTO statements in the
    // reference's order. Oracle: the same golden 12-row end state.
    Q("cdc_sql_merge_into",
      (s, _) => {
        // Catalog instances are cached by name per session — a unique name
        // per invocation guarantees a fresh warehouse binding.
        val cat = s"graft_m${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_m").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        import s.implicits._
        val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(CdcFixtures.scenario2Lines.toDS())))
        Cdc.projectToTable(Cdc.upserts(deduped)).createOrReplaceTempView("cdc_upserts")
        Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)).createOrReplaceTempView("cdc_deletes")
        s.sql(s"""MERGE INTO $cat.db.retail t USING cdc_upserts s ON t.trans_id = s.trans_id
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
        s.sql(s"""MERGE INTO $cat.db.retail t USING cdc_deletes s ON t.trans_id = s.trans_id
                  WHEN MATCHED THEN DELETE""")
        s.sql(s"SELECT trans_id, customer_id, event, sku, amount, device, " +
          "date_format(trans_datetime, 'yyyy-MM-dd HH:mm:ss') AS trans_datetime " +
          s"FROM $cat.db.retail ORDER BY trans_id")
      },
      Some(endStateOracle)),

    // Per-operation write strategy through TBLPROPERTIES (Iceberg
    // write.merge.mode / write.delete.mode parity): the same reference MERGE
    // statements, but the table is ALTERed to merge-on-read-vector first —
    // both statements land deletion vectors instead of rewriting files, and
    // the SQL read stays correct while they are pending. Oracle: identical
    // golden end state.
    Q("cdc_sql_write_modes",
      (s, _) => {
        val cat = s"graft_wm${System.nanoTime()}" // unique: catalogs cache by name
        val warehouse = Files.createTempDirectory("graft_warehouse_wm").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        s.sql(s"ALTER TABLE $cat.db.retail SET TBLPROPERTIES(" +
          "'write.merge.mode'='merge-on-read-vector')")
        import s.implicits._
        val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(CdcFixtures.scenario2Lines.toDS())))
        Cdc.projectToTable(Cdc.upserts(deduped)).createOrReplaceTempView("wm_upserts")
        Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)).createOrReplaceTempView("wm_deletes")
        s.sql(s"""MERGE INTO $cat.db.retail t USING wm_upserts s ON t.trans_id = s.trans_id
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
        s.sql(s"""MERGE INTO $cat.db.retail t USING wm_deletes s ON t.trans_id = s.trans_id
                  WHEN MATCHED THEN DELETE""")
        assert(t.snapshot.deletes.nonEmpty &&
          t.snapshot.deletes.forall(_.kind == graft.table.DeleteFile.Vector),
          "test premise: the SQL merges must have landed deletion vectors")
        s.sql(s"SELECT trans_id, customer_id, event, sku, amount, device, " +
          "date_format(trans_datetime, 'yyyy-MM-dd HH:mm:ss') AS trans_datetime " +
          s"FROM $cat.db.retail ORDER BY trans_id")
      },
      Some(endStateOracle)),

    // DSv2 catalog front door: the same maintained table resolved through
    // `graft.<db>.<table>` SQL identifiers with VERSION AS OF time travel —
    // the engine's equivalent of the reference's Glue-catalog + Athena path
    // (`job:53-58`, `README.md:507-513`). Oracle: the 10 keys of snapshot 1.
    Q("cdc_catalog_time_travel",
      (s, _) => {
        val cat = s"graft_t${System.nanoTime()}" // unique: catalogs cache by name
        val warehouse = Files.createTempDirectory("graft_warehouse").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario1Lines, batchId = 0)
        CdcPipeline.replayLines(s, t, CdcFixtures.scenario2Lines, batchId = 1)
        s.sql(s"SELECT trans_id FROM $cat.db.retail VERSION AS OF 1 ORDER BY trans_id")
      },
      Some(timeTravelOracle)),

    // MOR tables through the SQL front door: both scenarios applied as
    // merge-on-read (uncompacted — two pending equality-delete files), then
    // an aggregate via `SELECT ... FROM graft.db.t`. GraftMorScanRule
    // substitutes the delete-aware anti-join plan during analysis, so SQL
    // answers are correct whatever the write mode — the reference's Athena-
    // over-Iceberg-v2 promise (`README.md:507-513`). Oracle: per-event
    // aggregate of the golden end state (same as cdc_sql_over_table).
    Q("cdc_sql_over_mor",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_mor${System.nanoTime()}" // unique: catalogs cache by name
        val warehouse = Files.createTempDirectory("graft_warehouse_mor").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        def applyB(lines: Seq[String], b: Long): Unit = {
          val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(lines.toDS())))
          t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
            Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), b,
            graft.table.MergeMode.MergeOnRead)
        }
        applyB(CdcFixtures.scenario1Lines, 0)
        applyB(CdcFixtures.scenario2Lines, 1)
        assert(t.snapshot.deletes.nonEmpty, "test premise: deletes must be pending")
        s.sql(s"""SELECT event, COUNT(*) AS n, SUM(amount) AS total_amount
                  FROM $cat.db.retail GROUP BY event ORDER BY event""")
      },
      Some("""SELECT * FROM (VALUES
             |  ('cart', CAST(2 AS BIGINT), CAST(127 AS BIGINT)),
             |  ('like', CAST(4 AS BIGINT), CAST(88 AS BIGINT)),
             |  ('list', CAST(3 AS BIGINT), CAST(44 AS BIGINT)),
             |  ('purchase', CAST(1 AS BIGINT), CAST(5 AS BIGINT)),
             |  ('visit', CAST(2 AS BIGINT), CAST(40 AS BIGINT))
             |) AS t(event, n, total_amount) ORDER BY event""".stripMargin)),

    // GUARDED MERGE through SQL (`WHEN MATCHED AND s._op_ts >= t._op_ts`) —
    // the engine's T3 late-data fix reachable from the SQL surface, not just
    // the Scala API: scenario1 via the guarded pipeline, scenario2's upserts
    // and deletes via two guarded MERGE INTO statements. Oracle: the same
    // golden 12-row end state as cdc_replay_guarded_end_state.
    Q("cdc_sql_merge_guarded",
      (s, _) => {
        import s.implicits._
        val cat = s"graft_g${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_g").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val t = TransactionalTable.create(s, s"$warehouse/db/retail",
          Cdc.guardedTableSchema, Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        CdcPipeline.applyCdcBatchGuarded(t, Cdc.parse(CdcFixtures.scenario1Lines.toDS()), 0)
        val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(CdcFixtures.scenario2Lines.toDS())))
        Cdc.projectToTableGuarded(Cdc.upserts(deduped))
          .createOrReplaceTempView("cdc_g_upserts")
        Cdc.deletes(deduped)
          .select(col(Cdc.PrimaryKey), col("_op_timestamp").as("_op_ts"))
          .createOrReplaceTempView("cdc_g_deletes")
        s.sql(s"""MERGE INTO $cat.db.retail t USING cdc_g_upserts s ON t.trans_id = s.trans_id
                  WHEN MATCHED AND s._op_ts >= t._op_ts THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
        s.sql(s"""MERGE INTO $cat.db.retail t USING cdc_g_deletes s ON t.trans_id = s.trans_id
                  WHEN MATCHED AND s._op_ts >= t._op_ts THEN DELETE""")
        s.sql(s"SELECT trans_id, customer_id, event, sku, amount, device, " +
          "date_format(trans_datetime, 'yyyy-MM-dd HH:mm:ss') AS trans_datetime " +
          s"FROM $cat.db.retail ORDER BY trans_id")
      },
      Some(endStateOracle)),

    // S3 through the driver gate: catalog listing via SQL `SHOW TABLES`
    // (reference `job:91-92` does this per batch against Glue; the engine
    // answers from the warehouse directory). Oracle: literal table names.
    Q("cdc_show_tables",
      (s, _) => {
        val cat = s"graft_st${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_st").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        TransactionalTable.create(s, s"$warehouse/db/orders_t", Cdc.tableSchema, Cdc.PrimaryKey)
        TransactionalTable.create(s, s"$warehouse/db/retail_t", Cdc.tableSchema, Cdc.PrimaryKey)
        s.sql(s"SHOW TABLES IN $cat.db").select(col("tableName").as("table_name"))
          .orderBy("table_name")
      },
      Some("SELECT * FROM (VALUES ('orders_t'), ('retail_t')) AS t(table_name) ORDER BY table_name")),

    // S2 through the driver gate: schema inspection via DESCRIBE (the
    // engine's pinned-StructType answer to the reference's `LIMIT 0` probe).
    Q("cdc_describe_table",
      (s, _) => {
        val cat = s"graft_dt${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_dt").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        TransactionalTable.create(s, s"$warehouse/db/retail", Cdc.tableSchema,
          Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
        s.sql(s"DESCRIBE TABLE $cat.db.retail")
          .filter(!col("col_name").startsWith("#") && col("col_name") =!= "")
          .select(col("col_name"), col("data_type"))
          .orderBy("col_name")
      },
      // 'event' appears twice: once as a column, once under DESCRIBE's
      // "# Partition Information" section (the table reports its partition
      // transform through DSv2 `partitioning()` — Iceberg DESCRIBE parity).
      Some("""SELECT * FROM (VALUES
             |  ('amount', 'int'), ('customer_id', 'string'), ('device', 'string'),
             |  ('event', 'string'), ('event', 'string'), ('sku', 'string'),
             |  ('trans_datetime', 'timestamp'), ('trans_id', 'bigint')
             |) AS t(col_name, data_type) ORDER BY col_name""".stripMargin)),

    // Scale-up CDC replay over the events fixture (sf-scalable, full
    // pipeline). End state = last event per user (ts is monotone in
    // event_id), deletes drop 'error'-typed users — SQL-expressible, so the
    // whole streaming MERGE path is driver-oracled, not just the golden 23
    // envelopes.
    Q("cdc_events_replay",
      (s, d) => graft.stream.CdcEventsReplay.endState(s, d),
      Some("""WITH ranked AS (
             |  SELECT user_id, event_type, value, ts, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id AS trans_id, CAST(user_id AS VARCHAR) AS customer_id,
             |  event_type AS event, CAST(floor(value) AS INTEGER) AS amount,
             |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS trans_dt
             |FROM ranked WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY trans_id""".stripMargin),
      headline = true, streaming = true),

    // Write-distribution surface (Iceberg write.distribution-mode parity):
    // bulk-load lineitem into a hash-distributed, l_returnflag-partitioned
    // engine table — the pre-write shuffle clusters each partition value
    // onto one task, so the commit writes ONE file per value instead of
    // tasks×values small files (file-count proof in WriteDistributionSpec)
    // — then aggregate back through the catalog SQL path. Oracle: the same
    // aggregate straight over the parquet fixture.
    Q("cdc_hash_distributed_write",
      (s, d) => {
        val cat = s"graft_wd${System.nanoTime()}"
        val warehouse = Files.createTempDirectory("graft_warehouse_wd").toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
        Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/db"))
        val li = Tables.load(s, d, "lineitem")
        val t = TransactionalTable.createPartitioned(s, s"$warehouse/db/li",
          li.schema, "l_orderkey,l_linenumber",
          Some(graft.table.PartitionTransform.Identity("l_returnflag")))
        t.setWriteDistribution("hash")
        t.append(li)
        s.sql(
          s"""SELECT l_returnflag, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM $cat.db.li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)))
}
