package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.catalog.Identifier

import graft.sql.{GraftCatalog, GraftViewResolution, GraftViewStore}
import graft.table.TransactionalTable

/** Persisted SQL views (Iceberg-view parity): DDL through the SQL front door
  * (parser-intercepted — Spark 4.1 has no native v2-view path), reads expanded
  * in the analyzer, versioned metadata on disk, catalog-API surface. */
class ViewSqlSpec extends SparkSpec {
  import spark.implicits._

  /** Fresh catalog + warehouse with a `db.t(id, v)` base table of 3 rows. */
  private def fresh(): (String, String) = {
    val cat = s"graft_vw${System.nanoTime()}"
    val w = tmpDir("graft-view-warehouse")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    Files.createDirectories(Paths.get(s"$w/db"))
    TransactionalTable.create(spark, s"$w/db/t",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"), "id", None)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20), (3, 30)")
    (cat, w)
  }

  test("CREATE VIEW + SELECT, projection/filter through the view") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.doubled AS SELECT id, v * 2 AS v2 FROM $cat.db.t")
    val rows = spark.sql(s"SELECT v2 FROM $cat.db.doubled WHERE id >= 2 ORDER BY id")
      .as[Long].collect().toSeq
    assert(rows === Seq(40L, 60L))
  }

  test("user column list aliases the query output (and joins by position)") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.named (key, double_v) AS " +
      s"SELECT id, v * 2 FROM $cat.db.t")
    val df = spark.sql(s"SELECT key, double_v FROM $cat.db.named ORDER BY key")
    assert(df.columns.toSeq === Seq("key", "double_v"))
    assert(df.as[(Long, Long)].collect().toSeq === Seq((1L, 20L), (2L, 40L), (3L, 60L)))
  }

  test("view over view expands recursively") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.v1 AS SELECT id, v * 2 AS v2 FROM $cat.db.t")
    spark.sql(s"CREATE VIEW $cat.db.v2 AS SELECT sum(v2) AS s FROM $cat.db.v1")
    assert(spark.sql(s"SELECT s FROM $cat.db.v2").as[Long].head() === 120L)
  }

  test("CREATE OR REPLACE appends a version; definition history retained") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.r AS SELECT id FROM $cat.db.t")
    spark.sql(s"CREATE OR REPLACE VIEW $cat.db.r AS SELECT v FROM $cat.db.t")
    val meta = GraftViewStore.load(s"$w/db/r", graft.table.PosixCommitIO)
    assert(meta.currentVersionId === 2 && meta.versions.map(_.versionId) === Seq(1, 2))
    assert(spark.sql(s"SELECT * FROM $cat.db.r ORDER BY v").columns.toSeq === Seq("v"))
    // ALTER VIEW ... AS appends another version, keeps properties
    spark.sql(s"ALTER VIEW $cat.db.r SET TBLPROPERTIES('team'='core')")
    spark.sql(s"ALTER VIEW $cat.db.r AS SELECT id, v FROM $cat.db.t")
    val meta2 = GraftViewStore.load(s"$w/db/r", graft.table.PosixCommitIO)
    assert(meta2.currentVersionId === 3 && meta2.properties("team") === "core")
  }

  test("SHOW VIEWS lists and patterns; DROP removes; IF EXISTS tolerated") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.alpha AS SELECT id FROM $cat.db.t")
    spark.sql(s"CREATE VIEW $cat.db.beta AS SELECT id FROM $cat.db.t")
    val all = spark.sql(s"SHOW VIEWS IN $cat.db").select("viewName")
      .as[String].collect().toSet
    assert(all === Set("alpha", "beta"))
    val filtered = spark.sql(s"SHOW VIEWS IN $cat.db LIKE 'al*'").select("viewName")
      .as[String].collect().toSet
    assert(filtered === Set("alpha"))
    spark.sql(s"DROP VIEW $cat.db.alpha")
    spark.sql(s"DROP VIEW IF EXISTS $cat.db.alpha") // second drop: no error
    intercept[Exception](spark.sql(s"DROP VIEW $cat.db.alpha"))
    assert(spark.sql(s"SHOW VIEWS IN $cat.db").count() === 1)
  }

  test("RENAME VIEW moves the definition") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.old AS SELECT id FROM $cat.db.t")
    spark.sql(s"ALTER VIEW $cat.db.old RENAME TO $cat.db.fresh")
    assert(!GraftViewStore.exists(s"$w/db/old", graft.table.PosixCommitIO) && GraftViewStore.exists(s"$w/db/fresh", graft.table.PosixCommitIO))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.fresh").as[Long].head() === 3L)
  }

  test("REPLACE / ALTER ... AS on a materialized view refuses (no silent demotion)") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.m AS SELECT id, v FROM $cat.db.t")
    val e1 = intercept[Exception](
      spark.sql(s"CREATE OR REPLACE VIEW $cat.db.m AS SELECT id FROM $cat.db.t"))
    assert(e1.getMessage.contains("MATERIALIZED"))
    val e2 = intercept[Exception](
      spark.sql(s"ALTER VIEW $cat.db.m AS SELECT id FROM $cat.db.t"))
    assert(e2.getMessage.contains("MATERIALIZED"))
    // still a working MV: flags intact, storage intact, refresh still runs
    val meta = GraftViewStore.load(s"$w/db/m", graft.table.PosixCommitIO)
    assert(meta.materialized && meta.sourceVersions.nonEmpty)
    assert(graft.table.TransactionalTable.exists(s"$w/db/m/_storage"))
    assert(spark.sql(s"CALL $cat.system.refresh_mv('db.m')")
      .select("refreshed").as[Boolean].head() === false) // fresh → no-op
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.m").as[Long].head() === 3L)
  }

  test("view metadata writes are CAS-guarded: a racing writer's update is not lost") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.cas AS SELECT id FROM $cat.db.t")
    val root = s"$w/db/cas"
    // Simulate a concurrent DDL: on the first attempt, after `f` observed the
    // state, another writer lands a property update. The CAS must detect the
    // change and recompute `f` against the fresh state.
    var attempts = 0
    GraftViewStore.mutate(root, graft.table.PosixCommitIO) { cur =>
      attempts += 1
      if (attempts == 1) {
        val sneak = GraftViewStore.load(root, graft.table.PosixCommitIO)
        GraftViewStore.write(root, sneak.copy(properties = sneak.properties + ("racer" -> "yes")), graft.table.PosixCommitIO)
      }
      val m = cur.get
      m.copy(properties = m.properties + ("mine" -> "yes"))
    }
    assert(attempts === 2)
    val fin = GraftViewStore.load(root, graft.table.PosixCommitIO)
    assert(fin.properties.get("racer") === Some("yes") && fin.properties.get("mine") === Some("yes"))
  }

  test("analyzed view definitions are cached: repeat reads skip the parse, DDL invalidates") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.cv AS SELECT id, v FROM $cat.db.t")
    spark.sql(s"SELECT * FROM $cat.db.cv").collect() // first read: builds + caches
    val b0 = GraftViewResolution.planBuilds.get()
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.cv").as[Long].head() === 3L)
    assert(spark.sql(s"SELECT v FROM $cat.db.cv WHERE id = 1").as[Long].head() === 10L)
    assert(GraftViewResolution.planBuilds.get() === b0,
      "cached definition was re-parsed on a repeat read")
    // a definition change rewrites _view.json → content hash misses → rebuild
    spark.sql(s"ALTER VIEW $cat.db.cv AS SELECT id FROM $cat.db.t")
    assert(spark.sql(s"SELECT * FROM $cat.db.cv").columns.toSeq === Seq("id"))
    assert(GraftViewResolution.planBuilds.get() > b0,
      "definition change must invalidate the cached plan")
  }

  test("single-part RENAME keeps the source view's namespace") {
    val (cat, w) = fresh()
    Files.createDirectories(Paths.get(s"$w/db2"))
    spark.sql(s"CREATE VIEW $cat.db.sv AS SELECT id FROM $cat.db.t")
    // current namespace is a DIFFERENT db of the same catalog: the 1-part
    // target must not adopt it and silently move the view across namespaces
    spark.sql(s"USE $cat.db2")
    try spark.sql(s"ALTER VIEW $cat.db.sv RENAME TO sv2")
    finally spark.sql("USE spark_catalog.default")
    assert(GraftViewStore.exists(s"$w/db/sv2", graft.table.PosixCommitIO), "renamed view stays in db")
    assert(!GraftViewStore.exists(s"$w/db2/sv2", graft.table.PosixCommitIO), "must not move to current namespace")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.sv2").as[Long].head() === 3L)
  }

  test("TBLPROPERTIES set/unset round-trip through the catalog API") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.p TBLPROPERTIES('a'='1','b'='2') AS SELECT id FROM $cat.db.t")
    spark.sql(s"ALTER VIEW $cat.db.p SET TBLPROPERTIES('b'='3','c'='4')")
    spark.sql(s"ALTER VIEW $cat.db.p UNSET TBLPROPERTIES('a')")
    val g = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[GraftCatalog]
    val v = g.loadView(Identifier.of(Array("db"), "p"))
    val props = v.properties()
    assert(props.get("b") === "3" && props.get("c") === "4" && !props.containsKey("a"))
  }

  test("recursive view cycle is detected, not an analyzer hang") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.c1 AS SELECT id FROM $cat.db.t")
    spark.sql(s"CREATE VIEW $cat.db.c2 AS SELECT id FROM $cat.db.c1")
    // close the loop: c1 now reads c2 (the replace analyzes against OLD c1,
    // so creation succeeds; the cycle exists only for subsequent reads)
    spark.sql(s"CREATE OR REPLACE VIEW $cat.db.c1 AS SELECT id FROM $cat.db.c2")
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.c1").collect())
    assert(e.getMessage.toLowerCase.contains("recursive"))
  }

  test("view body referencing a temp view is rejected at CREATE") {
    val (cat, _) = fresh()
    Seq((1L, 2L)).toDF("x", "y").createOrReplaceTempView("ephemeral_src")
    val e = intercept[Exception](
      spark.sql(s"CREATE VIEW $cat.db.bad AS SELECT * FROM ephemeral_src"))
    assert(e.getMessage.contains("ephemeral_src") || e.getMessage.contains("TEMP"))
  }

  test("stored resolution context: unqualified names resolve against the defining namespace") {
    val (cat, _) = fresh()
    val prevCat = spark.sessionState.catalogManager.currentCatalog.name
    try {
      spark.sql(s"USE $cat.db")
      spark.sql("CREATE VIEW ctx_view AS SELECT id, v FROM t") // unqualified base table
      spark.sql(s"USE spark_catalog")
      // read under a DIFFERENT current catalog — body must still find graft db.t
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.ctx_view").as[Long].head() === 3L)
    } finally spark.sql(s"USE $prevCat")
  }

  test("persistence: a second catalog instance over the same warehouse sees the view") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.persisted AS SELECT sum(v) AS s FROM $cat.db.t")
    val cat2 = s"graft_vw2_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat2", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", w)
    assert(spark.sql(s"SELECT s FROM $cat2.db.persisted").as[Long].head() === 60L)
    val g2 = spark.sessionState.catalogManager.catalog(cat2).asInstanceOf[GraftCatalog]
    assert(g2.listViews("db").map(_.name()).toSet === Set("persisted"))
  }

  test("DROP TABLE on a view refuses instead of destroying it") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.keep AS SELECT id FROM $cat.db.t")
    val e = intercept[Exception](spark.sql(s"DROP TABLE $cat.db.keep"))
    assert(e.getMessage.contains("DROP VIEW"), s"got: ${e.getMessage}")
    // nothing was deleted — view and its storage intact, reads still work
    assert(GraftViewStore.exists(s"$w/db/keep", graft.table.PosixCommitIO))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.keep").as[Long].head() === 3L)
    // and CREATE TABLE at the view's name is rejected, not co-located
    intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.keep (x BIGINT) TBLPROPERTIES('pk'='x')"))
    assert(GraftViewStore.exists(s"$w/db/keep", graft.table.PosixCommitIO))
  }

  test("views and tables are distinct namespaces: name collisions rejected") {
    val (cat, _) = fresh()
    intercept[Exception](
      spark.sql(s"CREATE VIEW $cat.db.t AS SELECT 1 AS one")) // table t exists
    spark.sql(s"CREATE VIEW $cat.db.vv AS SELECT id FROM $cat.db.t")
    // SHOW TABLES must not list the view; SHOW VIEWS must not list the table
    val tables = spark.sql(s"SHOW TABLES IN $cat.db").select("tableName")
      .as[String].collect().toSet
    assert(tables.contains("t") && !tables.contains("vv"))
    val views = spark.sql(s"SHOW VIEWS IN $cat.db").select("viewName")
      .as[String].collect().toSet
    assert(views === Set("vv"))
  }

  test("materialized view: create, read from storage, staleness, refresh") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv AS " +
      s"SELECT id, v * 10 AS v10 FROM $cat.db.t")
    // reads hit the storage table
    assert(spark.sql(s"SELECT v10 FROM $cat.db.mv ORDER BY id")
      .as[Long].collect().toSeq === Seq(100L, 200L, 300L))
    val meta = GraftViewStore.load(s"$w/db/mv", graft.table.PosixCommitIO)
    assert(meta.materialized && !meta.externalSources)
    assert(meta.sourceVersions.size === 1 && meta.sourceVersions.head._2 === 1L)
    // fresh: refresh is a no-op
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.mv')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r1 === ((false, "fresh")))
    // base table advances → MV is STALE but keeps serving the materialization
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.mv").as[Long].head() === 3L)
    val st = spark.sql(s"CALL $cat.system.mv_status('db.mv')")
      .select("fresh", "n_sources").as[(Boolean, Long)].head()
    assert(st === ((false, 1L)))
    // refresh recomputes atomically; status flips back to fresh
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.mv')")
      .select("refreshed").as[Boolean].head()
    assert(r2 === true)
    assert(spark.sql(s"SELECT v10 FROM $cat.db.mv ORDER BY id")
      .as[Long].collect().toSeq === Seq(100L, 200L, 300L, 400L))
    assert(spark.sql(s"CALL $cat.system.mv_status('db.mv')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("materialized view: column list, SHOW VIEWS, DROP removes storage") {
    val (cat, w) = fresh()
    // MV grammar takes TYPED column definitions (CREATE TABLE-shaped)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.agg (event_total BIGINT, n BIGINT) AS " +
      s"SELECT CAST(SUM(v) AS BIGINT), COUNT(*) FROM $cat.db.t")
    assert(spark.sql(s"SELECT event_total, n FROM $cat.db.agg")
      .as[(Long, Long)].head() === ((60L, 3L)))
    // listed alongside plain views
    assert(spark.sql(s"SHOW VIEWS IN $cat.db").select("viewName")
      .as[String].collect().toSet === Set("agg"))
    assert(graft.table.TransactionalTable.exists(s"$w/db/agg/_storage"))
    spark.sql(s"DROP VIEW $cat.db.agg")
    assert(!Files.exists(Paths.get(s"$w/db/agg")))
  }

  test("materialized view over a non-engine source is always refreshable (external)") {
    val (cat, w) = fresh()
    val ext = tmpDir("mv-ext-src")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.mode("overwrite").parquet(ext)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.extmv AS " +
      s"SELECT k, s FROM parquet.`$ext`")
    assert(GraftViewStore.load(s"$w/db/extmv", graft.table.PosixCommitIO).externalSources)
    // freshness unprovable → refresh recomputes every time
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.extmv')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r === ((true, "external sources")))
  }

  test("materialized view: append-only interval refreshes INCREMENTALLY (no full recompute)") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.inc AS " +
      s"SELECT id, v * 2 AS v2 FROM $cat.db.t WHERE v >= 20")
    assert(spark.sql(s"SELECT v2 FROM $cat.db.inc ORDER BY id")
      .as[Long].collect().toSeq === Seq(40L, 60L))
    val storageV0 = graft.table.TransactionalTable
      .open(spark, s"$w/db/inc/_storage").currentVersion
    // two append-only commits: one passes the filter, one doesn't
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (5, 5)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.inc')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental"), s"expected incremental path, got: ${r._2}")
    assert(spark.sql(s"SELECT v2 FROM $cat.db.inc ORDER BY id")
      .as[Long].collect().toSeq === Seq(40L, 60L, 80L))
    // incremental = ONE append commit on storage, not a table replace
    val storage = graft.table.TransactionalTable.open(spark, s"$w/db/inc/_storage")
    assert(storage.currentVersion === storageV0 + 1)
    // and status is fresh again
    assert(spark.sql(s"CALL $cat.system.mv_status('db.inc')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("MV storage file count stays BOUNDED under many incremental refreshes (auto-compaction cadence)") {
    // one merge/append commit per refresh interval = one-plus small files
    // per interval forever without maintenance — under streaming
    // maintenance that is per-micro-batch debt on the freshest-read path.
    // Storage is created with the E148 auto-compact cadence; 24 refreshes
    // must NOT leave 25 files behind.
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.bnd AS " +
      s"SELECT id, v FROM $cat.db.t")
    (1 to 24).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.t VALUES (${100 + i}, ${10 * i})")
      val reason = spark.sql(s"CALL $cat.system.refresh_mv('db.bnd')")
        .select("reason").as[String].head()
      assert(reason.startsWith("incremental"), s"refresh $i fell back: $reason")
    }
    val storage = TransactionalTable.open(spark, s"$w/db/bnd/_storage")
    val nFiles = storage.snapshot.files.size
    assert(nFiles < 20, s"storage small-file debt unbounded: $nFiles files")
    // and the compaction cadence never disturbed correctness or freshness
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.bnd").as[Long].head() === 27L)
    assert(spark.sql(s"CALL $cat.system.mv_status('db.bnd')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("incremental refresh is crash/replay safe: the storage fence prevents double-apply") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.fen AS SELECT id, v FROM $cat.db.t")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.fen')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.fen").as[Long].head() === 4L)
    // simulate a crash BETWEEN the storage append and the _view.json update:
    // rewind the recorded source versions to their pre-refresh values
    val root = s"$w/db/fen"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    // replayed refresh must heal via the fence, NOT re-append the interval
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.fen')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r2._2.startsWith("incremental: +0"), s"expected fence heal, got $r2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.fen").as[Long].head() === 4L,
      "fence failed: interval applied twice")
    // and the healed metadata makes the next refresh a clean no-op
    assert(spark.sql(s"CALL $cat.system.refresh_mv('db.fen')")
      .select("refreshed").as[Boolean].head() === false)
  }

  /** fresh() + a dimension table `db.d(id, name)` joining db.t on id. */
  private def freshJoin(): (String, String) = {
    val (cat, w) = fresh()
    TransactionalTable.create(spark, s"$w/db/d",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING"),
      "id", None)
    spark.sql(s"INSERT INTO $cat.db.d VALUES (1, 'a'), (2, 'b')")
    (cat, w)
  }

  test("join MV: append-only intervals on BOTH sources refresh via the IVM delta terms") {
    val (cat, w) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jmv AS " +
      s"SELECT t.id, t.v, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id " +
      s"WHERE t.v >= 10")
    assert(spark.sql(s"SELECT id, v, name FROM $cat.db.jmv ORDER BY id")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 10L, "a"), (2L, 20L, "b")))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/jmv/_storage").currentVersion
    // interval exercises all three delta products: Δt⋈d_old (4 has no dim →
    // nothing), t_old⋈Δd (3 matches old fact), Δt⋈Δd (5 matches 5 — must
    // appear exactly ONCE: Δt⋈d@v1 picks it, t@v0⋈Δd cannot)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40), (5, 50)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'c'), (5, 'e')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jmv')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-join"), s"expected join IVM path, got: $r")
    assert(spark.sql(s"SELECT id, v, name FROM $cat.db.jmv ORDER BY id")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (5L, 50L, "e")))
    // incremental = ONE append commit on storage, not a table replace
    assert(TransactionalTable.open(spark, s"$w/db/jmv/_storage").currentVersion
      === storageV0 + 1)
    assert(spark.sql(s"CALL $cat.system.mv_status('db.jmv')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("join MV: deletes in either interval fall back to the full recompute") {
    val (cat, _) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jdel AS " +
      s"SELECT t.id, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 1")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jdel')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("stale:"), s"deletes must force a recompute, got: $r")
    assert(spark.sql(s"SELECT id FROM $cat.db.jdel ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("join MV: the pair fence prevents double-apply after a crash before the meta update") {
    val (cat, w) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jfen AS " +
      s"SELECT t.id, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (4, 'dd')")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.jfen')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-join"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.jfen").as[Long].head() === 3L)
    // crash window: storage append landed, _view.json not yet updated
    val root = s"$w/db/jfen"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.jfen')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-join: +0"), s"expected fence heal, got $r2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.jfen").as[Long].head() === 3L,
      "pair fence failed: interval applied twice")
  }

  test("join MV: per-source fences heal a crash even when a source advances AFTERWARDS") {
    val (cat, w) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jfen2 AS " +
      s"SELECT t.id, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (4, 'dd')")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.jfen2')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-join"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.jfen2").as[Long].head() === 3L)
    // crash window: storage commit landed, _view.json not yet updated...
    val root = s"$w/db/jfen2"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    // ...and a source then ADVANCES before the next refresh (the scalar
    // Σv1 fence cannot detect this — the per-source fences must carry the
    // committed baseline forward; ADVICE r14)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (5, 50)") // no dim match yet
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.jfen2')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-join"), s"expected incremental heal, got $r2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.jfen2").as[Long].head() === 3L,
      "per-source fence failed: interval applied twice after the crash window")
    // a later matching dim row still lands exactly once
    spark.sql(s"INSERT INTO $cat.db.d VALUES (5, 'ee')")
    spark.sql(s"CALL $cat.system.refresh_mv('db.jfen2')")
    assert(spark.sql(s"SELECT id FROM $cat.db.jfen2 ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L, 5L))
  }

  test("join MV: AGGREGATE over the join merges per-group deltas of the IVM row delta") {
    val (cat, w) = freshJoin()
    // star-schema summary: per-category totals over fact ⋈ dim
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jagg " +
      s"TBLPROPERTIES('pk'='name') AS " +
      s"SELECT d.name, SUM(t.v) AS total, COUNT(*) AS n, MAX(t.v) AS mx " +
      s"FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id GROUP BY d.name")
    assert(spark.sql(s"SELECT name, total, n, mx FROM $cat.db.jagg ORDER BY name")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 10L, 1L, 10L), ("b", 20L, 1L, 20L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/jagg/_storage").currentVersion
    // Δfact joins dim 'a' twice (group update), Δdim 'c' matches old fact 3
    // (new group), and the Δfact⋈Δdim product (id 7) lands once in group 'g7'
    spark.sql(s"INSERT INTO $cat.db.t VALUES (8, 80), (7, 70)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'c'), (7, 'g7'), (8, 'a')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jagg')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-join-agg"), s"expected join agg tier, got: $r")
    assert(spark.sql(s"SELECT name, total, n, mx FROM $cat.db.jagg ORDER BY name")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 90L, 2L, 80L), ("b", 20L, 1L, 20L),
        ("c", 30L, 1L, 30L), ("g7", 70L, 1L, 70L)))
    // delta MERGE commit, not a storage replace
    assert(TransactionalTable.open(spark, s"$w/db/jagg/_storage").currentVersion
      === storageV0 + 1)
    // AVG WITHOUT its E179 SUM/COUNT companions is not delta-decomposable
    // from the stored final alone: falls back to the recompute
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.javg AS " +
      s"SELECT d.name, AVG(t.v) AS av FROM $cat.db.t t " +
      s"JOIN $cat.db.d d ON t.id = d.id GROUP BY d.name")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9, 90)")
    val rAvg = spark.sql(s"CALL $cat.system.refresh_mv('db.javg')")
      .select("reason").as[String].head()
    assert(rAvg.startsWith("stale:"), s"AVG must recompute, got: $rAvg")
  }

  test("join MV: aggregate RETRACTION under a delete-bearing interval (counting algebra)") {
    val (cat, w) = freshJoin()
    // retract-eligible agg set: SUM(v) with its COUNT(v), plus COUNT(*)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jret " +
      s"TBLPROPERTIES('pk'='name') AS " +
      s"SELECT d.name, SUM(t.v) AS total, COUNT(t.v) AS nv, COUNT(*) AS n " +
      s"FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id GROUP BY d.name")
    assert(spark.sql(s"SELECT name, total, nv, n FROM $cat.db.jret ORDER BY name")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 10L, 1L, 1L), ("b", 20L, 1L, 1L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/jret/_storage").currentVersion
    // interval: an UPDATE (delete+insert pair nets out), a group-KILLING
    // delete (b's only fact), and a Δt⋈Δd product landing once (id 4)
    spark.sql(s"UPDATE $cat.db.t SET v = 15 WHERE id = 1")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (4, 'aa')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jret')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-join-agg-retract"),
      s"expected the join retraction tier, got: $r")
    // group a updated in place, b DEAD (zero count), aa born
    assert(spark.sql(s"SELECT name, total, nv, n FROM $cat.db.jret ORDER BY name")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 15L, 1L, 1L), ("aa", 40L, 1L, 1L)))
    // one delta MERGE commit, not a storage replace
    assert(TransactionalTable.open(spark, s"$w/db/jret/_storage").currentVersion
      === storageV0 + 1)
    // replay safety: re-rolling meta + a further append must not re-apply
    val root = s"$w/db/jret"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9, 90)") // no dim match
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.jret')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-join"), s"expected incremental heal, got $r2")
    assert(spark.sql(s"SELECT name, total, nv, n FROM $cat.db.jret ORDER BY name")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 15L, 1L, 1L), ("aa", 40L, 1L, 1L)),
      "per-source fence failed under retraction")
  }

  test("join MV: deletes on non-retractable shapes still force the recompute") {
    val (cat, _) = freshJoin()
    // row-preserving join tier: no multiset retraction — recompute
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jrow AS " +
      s"SELECT t.id, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 1")
    val rRow = spark.sql(s"CALL $cat.system.refresh_mv('db.jrow')")
      .select("reason").as[String].head()
    assert(rRow.startsWith("stale:"), s"row join + delete must recompute, got: $rRow")
    assert(spark.sql(s"SELECT id FROM $cat.db.jrow ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L))
    // MAX cannot un-see a deleted extremum: agg tier falls back too
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jmax " +
      s"TBLPROPERTIES('pk'='name') AS " +
      s"SELECT d.name, MAX(t.v) AS mx, COUNT(*) AS n " +
      s"FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id GROUP BY d.name")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    val rMax = spark.sql(s"CALL $cat.system.refresh_mv('db.jmax')")
      .select("reason").as[String].head()
    assert(rMax.startsWith("stale:"), s"MAX + delete must recompute, got: $rMax")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.db.jmax").as[Long].head() === 0L)
  }

  test("aggregate MV: AVG maintains with declared SUM/COUNT companions (E179)") {
    val (cat, _) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.avgmv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(v) AS nv, COUNT(*) AS n, AVG(v) AS av " +
      s"FROM $cat.db.ev GROUP BY grp")
    // append interval incl. an all-NULL-input group (avg must stay NULL)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',30),(5,'c',7),(6,'d',NULL)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.avgmv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-agg:"), s"append tier expected, got: $r1")
    assert(spark.sql(s"SELECT grp, sv, nv, n, av FROM $cat.db.avgmv ORDER BY grp")
      .as[(String, Option[Long], Long, Long, Option[Double])].collect().toSeq ===
      Seq(("a", Some(60L), 3L, 3L, Some(20.0)), ("b", Some(5L), 1L, 1L, Some(5.0)),
        ("c", Some(7L), 1L, 1L, Some(7.0)), ("d", None, 0L, 1L, None)))
    // retraction interval: UPDATE re-averages, group b dies
    spark.sql(s"UPDATE $cat.db.ev SET v = 40 WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE grp = 'b'")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.avgmv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg-retract"), s"retract tier expected, got: $r2")
    assert(spark.sql(s"SELECT grp, sv, nv, n, av FROM $cat.db.avgmv ORDER BY grp")
      .as[(String, Option[Long], Long, Long, Option[Double])].collect().toSeq ===
      Seq(("a", Some(80L), 3L, 3L, Some(80.0 / 3)),
        ("c", Some(7L), 1L, 1L, Some(7.0)), ("d", None, 0L, 1L, None)))
  }

  test("join-agg MV: AVG with companions rides the retraction tier (E179)") {
    val (cat, _) = freshJoin() // t:(1,10),(2,20),(3,30); d:(1,'a'),(2,'b')
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jav " +
      s"TBLPROPERTIES('pk'='name') AS " +
      s"SELECT d.name, SUM(t.v) AS sv, COUNT(t.v) AS nv, COUNT(*) AS n, " +
      s"AVG(t.v) AS av FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id " +
      s"GROUP BY d.name")
    spark.sql(s"UPDATE $cat.db.t SET v = 15 WHERE id = 1")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2") // b dies
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'a')") // fact 3 joins group a
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jav')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-join-agg-retract"),
      s"join retract tier expected, got: $r")
    assert(spark.sql(s"SELECT name, sv, nv, n, av FROM $cat.db.jav ORDER BY name")
      .as[(String, Long, Long, Long, Double)].collect().toSeq ===
      Seq(("a", 45L, 2L, 2L, 22.5)))
  }

  test("aggregate MV: COUNT(DISTINCT) maintains via the value-count aux table (E180)") {
    val (cat, w) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.dmv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, COUNT(DISTINCT v) AS dv, SUM(v) AS sv, COUNT(v) AS nv, " +
      s"COUNT(*) AS n FROM $cat.db.ev GROUP BY grp")
    def rows(): Seq[(String, Long, Option[Long], Long, Long)] =
      spark.sql(s"SELECT grp, dv, sv, nv, n FROM $cat.db.dmv ORDER BY grp")
        .as[(String, Long, Option[Long], Long, Long)].collect().toSeq
    // append: a duplicate value (dv flat, n up), a new value, a new group,
    // and a NULL input (ignored by the distinct count)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES " +
      "(4,'a',10), (5,'a',30), (6,'c',7), (7,'c',NULL)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.dmv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-agg-distinct"), s"got: $r1")
    assert(rows() === Seq(("a", 3L, Some(70L), 4L, 4L), ("b", 1L, Some(5L), 1L, 1L),
      ("c", 1L, Some(7L), 1L, 2L)))
    // retraction: one copy of a duplicated value retracts (dv FLAT — only
    // the aux knows), a unique value retracts (dv drops), a group dies
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1") // 10 still held by id 4
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2") // 20 gone
    spark.sql(s"DELETE FROM $cat.db.ev WHERE grp = 'b'")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.dmv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg-distinct"), s"got: $r2")
    assert(rows() === Seq(("a", 2L, Some(40L), 2L, 2L), ("c", 1L, Some(7L), 1L, 2L)))
    // an UPDATE collapsing two values into one: dv 2 -> 1
    spark.sql(s"UPDATE $cat.db.ev SET v = 10 WHERE id = 5")
    val r3 = spark.sql(s"CALL $cat.system.refresh_mv('db.dmv')")
      .select("reason").as[String].head()
    assert(r3.startsWith("incremental-agg-distinct"), s"got: $r3")
    assert(rows() === Seq(("a", 1L, Some(20L), 2L, 2L), ("c", 1L, Some(7L), 1L, 2L)))
    assert(TransactionalTable.exists(s"$w/db/dmv/_aux_d_dv"), "aux table must exist")
  }

  test("COUNT(DISTINCT) MV: full recompute drops the aux; next refresh re-bootstraps (E180)") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.dmv2 " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, COUNT(DISTINCT v) AS dv, COUNT(*) AS n " +
      s"FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',10)")
    spark.sql(s"CALL $cat.system.refresh_mv('db.dmv2')").collect()
    assert(TransactionalTable.exists(s"$w/db/dmv2/_aux_d_dv"))
    // a NULL group key forces the fallback recompute — the aux must go
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (8, NULL, 99)")
    val rf = spark.sql(s"CALL $cat.system.refresh_mv('db.dmv2')")
      .select("reason").as[String].head()
    assert(rf.startsWith("stale:"), s"NULL group must recompute, got: $rf")
    assert(!TransactionalTable.exists(s"$w/db/dmv2/_aux_d_dv"),
      "stale aux must not survive a storage replace")
    // next incremental refresh re-bootstraps from the new baseline
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (9,'a',20), (10,'a',10)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.dmv2')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-agg-distinct"), s"got: $r")
    assert(spark.sql(s"SELECT dv, n FROM $cat.db.dmv2 WHERE grp = 'a'")
      .as[(Long, Long)].head() === ((2L, 5L))) // values {10×3, 20×2}
  }

  test("join MV: COUNT(DISTINCT) maintains via the aux fed by telescoping terms (E181)") {
    val (cat, w) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    TransactionalTable.create(spark, s"$w/db/g",
      org.apache.spark.sql.types.StructType.fromDDL("grp STRING, tag STRING"),
      "grp", None)
    spark.sql(s"INSERT INTO $cat.db.g VALUES ('a','x'), ('b','y')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jdv " +
      s"TBLPROPERTIES('pk'='tag') AS " +
      s"SELECT g.tag, COUNT(DISTINCT e.v) AS dv, SUM(e.v) AS sv, " +
      s"COUNT(e.v) AS nv, COUNT(*) AS n " +
      s"FROM $cat.db.ev e JOIN $cat.db.g g ON e.grp = g.grp GROUP BY g.tag")
    def rows(): Seq[(String, Long, Option[Long], Long, Long)] =
      spark.sql(s"SELECT tag, dv, sv, nv, n FROM $cat.db.jdv ORDER BY tag")
        .as[(String, Long, Option[Long], Long, Long)].collect().toSeq
    assert(rows() === Seq(("x", 2L, Some(30L), 2L, 2L), ("y", 1L, Some(5L), 1L, 1L)))
    // APPEND-ONLY interval on BOTH sources still routes through the aux
    // (a duplicate join product must leave dv flat): dup value into 'a',
    // plus a Δfact⋈Δdim birth ('c' fact meets 'c' dim in one interval)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',10), (5,'c',7)")
    spark.sql(s"INSERT INTO $cat.db.g VALUES ('c','z')")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.jdv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-join-agg-distinct"), s"got: $r1")
    assert(rows() === Seq(("x", 2L, Some(40L), 3L, 3L), ("y", 1L, Some(5L), 1L, 1L),
      ("z", 1L, Some(7L), 1L, 1L)))
    // RETRACTION: one copy of the duplicated value retracts (dv FLAT — only
    // the aux knows), an UPDATE collapses two values into one (dv drops),
    // a fact delete kills a group
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1") // 10 still held by id 4
    spark.sql(s"UPDATE $cat.db.ev SET v = 20 WHERE id = 4") // {20,20} → dv 1
    spark.sql(s"DELETE FROM $cat.db.ev WHERE grp = 'b'")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.jdv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-join-agg-distinct"), s"got: $r2")
    assert(rows() === Seq(("x", 1L, Some(40L), 2L, 2L), ("z", 1L, Some(7L), 1L, 1L)))
    // DIM-side churn: retagging 'c' moves its whole group (z dies, w born) —
    // the dim-delta signed terms must feed the aux on both signs
    spark.sql(s"UPDATE $cat.db.g SET tag = 'w' WHERE grp = 'c'")
    val r3 = spark.sql(s"CALL $cat.system.refresh_mv('db.jdv')")
      .select("reason").as[String].head()
    assert(r3.startsWith("incremental-join-agg-distinct"), s"got: $r3")
    assert(rows() === Seq(("w", 1L, Some(7L), 1L, 1L), ("x", 1L, Some(40L), 2L, 2L)))
    assert(TransactionalTable.exists(s"$w/db/jdv/_aux_d_dv"), "aux table must exist")
  }

  test("union MV: COUNT(DISTINCT) dedups across legs via the shared aux (E181)") {
    val (cat, w) = fresh() // unused base; gives catalog + warehouse
    for (n <- Seq("u1", "u2"))
      TransactionalTable.create(spark, s"$w/db/$n",
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, grp STRING, v BIGINT"),
        "id", None)
    spark.sql(s"INSERT INTO $cat.db.u1 VALUES (1,'a',10), (2,'a',20)")
    spark.sql(s"INSERT INTO $cat.db.u2 VALUES (1,'a',10), (2,'b',5)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.udv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, COUNT(DISTINCT v) AS dv, COUNT(v) AS nv, COUNT(*) AS n FROM (" +
      s"SELECT grp, v FROM $cat.db.u1 UNION ALL SELECT grp, v FROM $cat.db.u2" +
      s") GROUP BY grp")
    def rows(): Seq[(String, Long, Long, Long)] =
      spark.sql(s"SELECT grp, dv, nv, n FROM $cat.db.udv ORDER BY grp")
        .as[(String, Long, Long, Long)].collect().toSeq
    // value 10 appears in BOTH legs → one distinct
    assert(rows() === Seq(("a", 2L, 3L, 3L), ("b", 1L, 1L, 1L)))
    // cross-leg duplicate insert (dv flat) + a genuinely new value
    spark.sql(s"INSERT INTO $cat.db.u2 VALUES (3,'a',20), (4,'a',30)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.udv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-union-agg-distinct"), s"got: $r1")
    assert(rows() === Seq(("a", 3L, 5L, 5L), ("b", 1L, 1L, 1L)))
    // retraction across legs: u1's copy of 10 retracts but u2 still holds
    // one (dv FLAT); then u2's copy goes too (dv drops)
    spark.sql(s"DELETE FROM $cat.db.u1 WHERE id = 1")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.udv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-union-agg-distinct"), s"got: $r2")
    assert(rows() === Seq(("a", 3L, 4L, 4L), ("b", 1L, 1L, 1L)))
    spark.sql(s"DELETE FROM $cat.db.u2 WHERE id = 1")
    spark.sql(s"CALL $cat.system.refresh_mv('db.udv')").collect()
    assert(rows() === Seq(("a", 2L, 3L, 3L), ("b", 1L, 1L, 1L)))
  }

  test("aggregate MV: SUM/AVG(DISTINCT) overlay from the same aux (E182)") {
    val (cat, _) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.sdv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(DISTINCT v) AS sd, AVG(DISTINCT v) AS ad, " +
      s"COUNT(DISTINCT v) AS dv, COUNT(*) AS n " +
      s"FROM $cat.db.ev GROUP BY grp")
    def rows(): Seq[(String, Option[Long], Option[Double], Long, Long)] =
      spark.sql(s"SELECT grp, sd, ad, dv, n FROM $cat.db.sdv ORDER BY grp")
        .as[(String, Option[Long], Option[Double], Long, Long)].collect().toSeq
    assert(rows() === Seq(("a", Some(30L), Some(15.0), 2L, 2L),
      ("b", Some(5L), Some(5.0), 1L, 1L)))
    // a DUPLICATE value leaves sum/avg-distinct flat while n rises; a new
    // all-NULL group carries NULL sum/avg (never 0)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',10), (7,'c',NULL)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.sdv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-agg-distinct"), s"got: $r1")
    assert(rows() === Seq(("a", Some(30L), Some(15.0), 2L, 3L),
      ("b", Some(5L), Some(5.0), 1L, 1L), ("c", None, None, 0L, 1L)))
    // retraction: one copy of 10 retracts (flat — only the aux knows),
    // then the LAST copy retracts (sum drops by the value exactly once)
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1")
    spark.sql(s"CALL $cat.system.refresh_mv('db.sdv')").collect()
    assert(rows() === Seq(("a", Some(30L), Some(15.0), 2L, 2L),
      ("b", Some(5L), Some(5.0), 1L, 1L), ("c", None, None, 0L, 1L)))
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 4")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.sdv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg-distinct"), s"got: $r2")
    assert(rows() === Seq(("a", Some(20L), Some(20.0), 1L, 1L),
      ("b", Some(5L), Some(5.0), 1L, 1L), ("c", None, None, 0L, 1L)))
  }

  test("SUM(DISTINCT) over a DOUBLE column falls back (the value must be aux-PK-able)") {
    val (cat, w) = fresh()
    TransactionalTable.create(spark, s"$w/db/dd",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, grp STRING, x DOUBLE"),
      "id", None)
    spark.sql(s"INSERT INTO $cat.db.dd VALUES (1,'a',1.5), (2,'a',2.5)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.ddv TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(DISTINCT x) AS sd, COUNT(*) AS n FROM $cat.db.dd GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.dd VALUES (3,'a',1.5)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.ddv')")
      .select("reason").as[String].head()
    assert(r.startsWith("stale:"), s"double-typed DISTINCT arg must recompute, got: $r")
    assert(spark.sql(s"SELECT sd, n FROM $cat.db.ddv WHERE grp = 'a'")
      .as[(Double, Long)].head() === ((4.0, 3L)))
  }

  test("join MV: SUM(DISTINCT) maintains through the telescoping pair terms (E182)") {
    val (cat, w) = freshGrouped()
    TransactionalTable.create(spark, s"$w/db/g2",
      org.apache.spark.sql.types.StructType.fromDDL("grp STRING, tag STRING"),
      "grp", None)
    spark.sql(s"INSERT INTO $cat.db.g2 VALUES ('a','x'), ('b','x')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jsd TBLPROPERTIES('pk'='tag') AS " +
      s"SELECT g.tag, SUM(DISTINCT e.v) AS sd, COUNT(*) AS n " +
      s"FROM $cat.db.ev e JOIN $cat.db.g2 g ON e.grp = g.grp GROUP BY g.tag")
    // both 'a' and 'b' fold into tag x: values {10,20,5} → 35
    assert(spark.sql(s"SELECT sd, n FROM $cat.db.jsd").as[(Long, Long)].head()
      === ((35L, 3L)))
    // a cross-GROUP duplicate: a second 5 arrives via grp 'a' — the tag's
    // distinct sum must stay flat (the dup is only visible in the aux)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (8,'a',5)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.jsd')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-join-agg-distinct"), s"got: $r1")
    assert(spark.sql(s"SELECT sd, n FROM $cat.db.jsd").as[(Long, Long)].head()
      === ((35L, 4L)))
    // retract grp b's 5: tag x still holds one 5 via grp a → flat
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 3")
    spark.sql(s"CALL $cat.system.refresh_mv('db.jsd')").collect()
    assert(spark.sql(s"SELECT sd, n FROM $cat.db.jsd").as[(Long, Long)].head()
      === ((35L, 3L)))
    // retract the last 5 → drops
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 8")
    spark.sql(s"CALL $cat.system.refresh_mv('db.jsd')").collect()
    assert(spark.sql(s"SELECT sd, n FROM $cat.db.jsd").as[(Long, Long)].head()
      === ((30L, 2L)))
  }

  test("aggregate MV: DERIVED columns recompute from maintained companions (E194)") {
    val (cat, _) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.drv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(v) AS nv, COUNT(*) AS n, " +
      s"SUM(v) / CAST(COUNT(*) AS DOUBLE) AS ratio " +
      s"FROM $cat.db.ev GROUP BY grp")
    def rows(): Seq[(String, Option[Long], Long, Long, Option[Double])] =
      spark.sql(s"SELECT grp, sv, nv, n, ratio FROM $cat.db.drv ORDER BY grp")
        .as[(String, Option[Long], Long, Long, Option[Double])].collect().toSeq
    assert(rows() === Seq(("a", Some(30L), 2L, 2L, Some(15.0)),
      ("b", Some(5L), 1L, 1L, Some(5.0))))
    // append-only interval: the merged ratio must come from the POST-merge
    // sums, not the delta's own partial ratio
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',30), (5,'c',8)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.drv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-agg"), s"got: $r1")
    assert(rows() === Seq(("a", Some(60L), 3L, 3L, Some(20.0)),
      ("b", Some(5L), 1L, 1L, Some(5.0)), ("c", Some(8L), 1L, 1L, Some(8.0))))
    // retraction: UPDATE + group-killing DELETE — ratio follows the
    // retracted companions
    spark.sql(s"UPDATE $cat.db.ev SET v = 40 WHERE id = 1")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE grp = 'b'")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.drv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg-retract"), s"got: $r2")
    assert(rows() === Seq(("a", Some(90L), 3L, 3L, Some(30.0)),
      ("c", Some(8L), 1L, 1L, Some(8.0))))
  }

  test("derived column over an UNDECLARED aggregate falls back to recompute (E194 gate)") {
    val (cat, _) = freshGrouped()
    // ratio embeds SUM(v + 1), which is NOT declared as a bare output
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.drvbad " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n, " +
      s"SUM(v + 1) / CAST(COUNT(*) AS DOUBLE) AS ratio " +
      s"FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',30)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.drvbad')")
      .select("reason").as[String].head()
    assert(r.startsWith("stale:"), s"unmatched embedded aggregate must recompute, got: $r")
    assert(spark.sql(s"SELECT ratio FROM $cat.db.drvbad WHERE grp = 'a'")
      .as[Double].head() === 21.0) // (11+21+31)/3
  }

  test("join MV: derived columns ride the agg-over-join tiers (E194)") {
    val (cat, w) = freshGrouped()
    TransactionalTable.create(spark, s"$w/db/g3",
      org.apache.spark.sql.types.StructType.fromDDL("grp STRING, tag STRING"),
      "grp", None)
    spark.sql(s"INSERT INTO $cat.db.g3 VALUES ('a','x'), ('b','x')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jdrv TBLPROPERTIES('pk'='tag') AS " +
      s"SELECT g.tag, SUM(e.v) AS sv, COUNT(e.v) AS nv, COUNT(*) AS n, " +
      s"SUM(e.v) / CAST(COUNT(*) AS DOUBLE) AS ratio " +
      s"FROM $cat.db.ev e JOIN $cat.db.g3 g ON e.grp = g.grp GROUP BY g.tag")
    assert(spark.sql(s"SELECT sv, n, ratio FROM $cat.db.jdrv")
      .as[(Long, Long, Double)].head() === ((35L, 3L, 35.0 / 3)))
    // retraction through the join tier: the derived ratio recomputes from
    // the netted companions
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 3")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (6,'a',25)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jdrv')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-join-agg-retract"), s"got: $r")
    assert(spark.sql(s"SELECT sv, n, ratio FROM $cat.db.jdrv")
      .as[(Long, Long, Double)].head() === ((55L, 3L, 55.0 / 3)))
  }

  test("aggregate MV: MIN/MAX retract via the value-count aux when opted in (E197)") {
    val (cat, w) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mmx " +
      s"TBLPROPERTIES('pk'='grp', 'retract_minmax'='true') AS " +
      s"SELECT grp, MIN(v) AS mn, MAX(v) AS mx, SUM(v) AS sv, " +
      s"COUNT(v) AS nv, COUNT(*) AS n " +
      s"FROM $cat.db.ev GROUP BY grp")
    def rows(): Seq[(String, Option[Long], Option[Long], Long)] =
      spark.sql(s"SELECT grp, mn, mx, n FROM $cat.db.mmx ORDER BY grp")
        .as[(String, Option[Long], Option[Long], Long)].collect().toSeq
    assert(rows() === Seq(("a", Some(10L), Some(20L), 2L), ("b", Some(5L), Some(5L), 1L)))
    // append-only interval still routes through the aux (it must see every
    // value to retract later); a duplicate of the current max arrives
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',20), (5,'a',3)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.mmx')")
      .select("reason").as[String].head()
    assert(r1.startsWith("incremental-agg-distinct"), s"got: $r1")
    assert(rows() === Seq(("a", Some(3L), Some(20L), 4L), ("b", Some(5L), Some(5L), 1L)))
    // retract ONE copy of the duplicated max: flat (only the aux knows)
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2")
    spark.sql(s"CALL $cat.system.refresh_mv('db.mmx')").collect()
    assert(rows() === Seq(("a", Some(3L), Some(20L), 3L), ("b", Some(5L), Some(5L), 1L)))
    // retract the LAST copy of the max AND the current min in one
    // interval: both re-derive from the live multiset
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 4")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 5")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.mmx')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg-distinct"), s"got: $r2")
    assert(rows() === Seq(("a", Some(10L), Some(10L), 1L), ("b", Some(5L), Some(5L), 1L)))
    // group death still rides count_star
    spark.sql(s"DELETE FROM $cat.db.ev WHERE grp = 'b'")
    spark.sql(s"CALL $cat.system.refresh_mv('db.mmx')").collect()
    assert(rows() === Seq(("a", Some(10L), Some(10L), 1L)))
    assert(TransactionalTable.exists(s"$w/db/mmx/_aux_d_mn") &&
      TransactionalTable.exists(s"$w/db/mmx/_aux_d_mx"))
  }

  test("join MV: opted-in MIN/MAX retraction rides the telescoping aux terms (E197)") {
    val (cat, w) = freshGrouped()
    TransactionalTable.create(spark, s"$w/db/g4",
      org.apache.spark.sql.types.StructType.fromDDL("grp STRING, tag STRING"),
      "grp", None)
    spark.sql(s"INSERT INTO $cat.db.g4 VALUES ('a','x'), ('b','x')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jmmx " +
      s"TBLPROPERTIES('pk'='tag', 'retract_minmax'='true') AS " +
      s"SELECT g.tag, MAX(e.v) AS mx, SUM(e.v) AS sv, COUNT(e.v) AS nv, " +
      s"COUNT(*) AS n " +
      s"FROM $cat.db.ev e JOIN $cat.db.g4 g ON e.grp = g.grp GROUP BY g.tag")
    assert(spark.sql(s"SELECT mx, n FROM $cat.db.jmmx").as[(Long, Long)].head()
      === ((20L, 3L)))
    // delete the fact holding the max: the join-tier aux re-derives it
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2") // v=20, the max
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.jmmx')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-join-agg-distinct"), s"got: $r")
    assert(spark.sql(s"SELECT mx, n FROM $cat.db.jmmx").as[(Long, Long)].head()
      === ((10L, 2L)))
  }

  test("COUNT(DISTINCT) aux: per-source fences heal a crash between aux and storage commits") {
    val (cat, w) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.cdv " +
      s"TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, COUNT(DISTINCT v) AS dv, COUNT(*) AS n " +
      s"FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',30)")
    // crash AFTER the aux commit, BEFORE the storage merge (a non-NonFatal
    // throw — a NonFatal one would merely fall back to the recompute)
    graft.sql.GraftViewTestHooks.failAfterAuxCommit =
      Some(_ => throw new scala.util.control.ControlThrowable("injected crash") {})
    try {
      intercept[Throwable] {
        spark.sql(s"CALL $cat.system.refresh_mv('db.cdv')").collect()
      }
    } finally graft.sql.GraftViewTestHooks.failAfterAuxCommit = None
    // the aux carries the interval; the storage and meta do not
    assert(spark.sql(s"SELECT n FROM $cat.db.cdv WHERE grp = 'a'")
      .as[Long].head() === 2L, "storage must not have merged")
    // the source then ADVANCES before the healing refresh: id 4's value 30
    // retracts again. Without the per-source aux fences, the aux would net
    // the FULL storage interval (insert 30 + delete 30 = zero) on top of
    // its already-applied insert — a ghost (a,30) row inflating dv to 3.
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 4")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.cdv')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-agg-distinct"), s"got: $r")
    assert(spark.sql(s"SELECT dv, n FROM $cat.db.cdv WHERE grp = 'a'")
      .as[(Long, Long)].head() === ((2L, 2L)),
      "aux double-applied the crashed interval: ghost distinct value")
    // and the aux itself holds no ghost row for the retracted value
    val aux = TransactionalTable.open(spark, s"$w/db/cdv/_aux_d_dv")
    assert(aux.scan().where("grp = 'a' AND __val = 30").isEmpty,
      "ghost (a,30) aux row after the crash window")
  }

  test("keyed row MV (single source): explicit pk enables row-wise retraction") {
    val (cat, _) = fresh() // t: (1,10),(2,20),(3,30)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.krow TBLPROPERTIES('pk'='id') AS " +
      s"SELECT id, v * 2 AS v2 FROM $cat.db.t WHERE v >= 10")
    // filter-crossing UPDATE: the delete image passes the WHERE, the new
    // image does not → key 1 must DIE; in-filter UPDATE upserts; DELETE
    // kills; INSERT births
    spark.sql(s"UPDATE $cat.db.t SET v = 5 WHERE id = 1")
    spark.sql(s"UPDATE $cat.db.t SET v = 25 WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 3")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (7, 70)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.krow')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-retract"),
      s"expected keyed row retraction, got: $r")
    assert(spark.sql(s"SELECT id, v2 FROM $cat.db.krow ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((2L, 50L), (7L, 140L)))
  }

  test("keyed row MV (join): dim updates rewrite matching rows; fact deletes remove keys") {
    val (cat, _) = freshJoin() // t: 1,2,3; d: (1,'a'),(2,'b')
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.kjoin TBLPROPERTIES('pk'='id') AS " +
      s"SELECT t.id, t.v, d.name FROM $cat.db.t t JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"UPDATE $cat.db.d SET name = 'A' WHERE id = 1") // row rewrite via Δdim
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2") // key dies
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9, 90)") // no dim match → nothing
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'c')") // births old fact 3
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.kjoin')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-join-retract"),
      s"expected keyed row join retraction, got: $r")
    assert(spark.sql(s"SELECT id, v, name FROM $cat.db.kjoin ORDER BY id")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 10L, "A"), (3L, 30L, "c")))
  }

  test("keyed row MV (union): signed rows net — an update invisible to the leg cancels") {
    val (cat, _) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.kuni TBLPROPERTIES('pk'='id') AS " +
      s"SELECT id, v FROM $cat.db.t " +
      s"UNION ALL SELECT id + 1000 AS id, id AS v FROM $cat.db.d")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    // name is NOT projected by the leg: the update's delete+insert images
    // map to identical rows and must net to zero (no spurious churn)
    spark.sql(s"UPDATE $cat.db.d SET name = 'A' WHERE id = 1")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (5, 'e')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.kuni')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-union-retract"),
      s"expected keyed row union retraction, got: $r")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.kuni ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (3L, 30L), (1001L, 1L), (1002L, 2L), (1005L, 5L)))
  }

  test("SELF-join MV: occurrence-level deltas — append-only interval refreshes incrementally") {
    val (cat, w) = fresh() // db.t: (1,10),(2,20),(3,30)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.sj AS " +
      s"SELECT a.id AS aid, b.id AS bid, a.v + b.v AS sv " +
      s"FROM $cat.db.t a JOIN $cat.db.t b ON a.v = b.v")
    assert(spark.sql(s"SELECT aid, bid FROM $cat.db.sj ORDER BY aid, bid")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/sj/_storage").currentVersion
    // Δ row 4 shares v=10 with old row 1: the two occurrence terms must
    // produce Δ⋈t@v1 = {(4,1),(4,4)} and t@v0⋈Δ = {(1,4)} — each mixed
    // product exactly once, (4,4) only via the Δ⋈v1 term
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 10)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.sj')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-join: +3"),
      s"expected the occurrence-level join tier, got: $r")
    assert(spark.sql(s"SELECT aid, bid, sv FROM $cat.db.sj ORDER BY aid, bid")
      .as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 1L, 20L), (1L, 4L, 20L), (2L, 2L, 40L), (3L, 3L, 60L),
        (4L, 1L, 20L), (4L, 4L, 20L)))
    assert(TransactionalTable.open(spark, s"$w/db/sj/_storage").currentVersion
      === storageV0 + 1, "must append, not replace")
  }

  test("SELF-join MV: aggregate RETRACTION — signed occurrence terms net per group") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.sja " +
      s"TBLPROPERTIES('pk'='av') AS " +
      s"SELECT a.v AS av, SUM(b.v) AS total, COUNT(b.v) AS nb, COUNT(*) AS n " +
      s"FROM $cat.db.t a JOIN $cat.db.t b ON a.id = b.id GROUP BY a.v")
    assert(spark.sql(s"SELECT av, total, nb, n FROM $cat.db.sja ORDER BY av")
      .as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq((10L, 10L, 1L, 1L), (20L, 20L, 1L, 1L), (30L, 30L, 1L, 1L)))
    // UPDATE moves a row between groups (20 dies, 25 born), DELETE kills 30,
    // INSERT births 50 — the four signed terms (ins/del × two occurrences)
    // must net exactly, including the Δ⋈Δ products inside ins⋈t@v1
    spark.sql(s"UPDATE $cat.db.t SET v = 25 WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 3")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (5, 50)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.sja')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-join-agg-retract"),
      s"expected the self-join retraction tier, got: $r")
    assert(spark.sql(s"SELECT av, total, nb, n FROM $cat.db.sja ORDER BY av")
      .as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq((10L, 10L, 1L, 1L), (25L, 25L, 1L, 1L), (50L, 50L, 1L, 1L)))
  }

  test("union MV: AGGREGATE retraction — deletes on either leg net out per group") {
    val (cat, _) = freshJoin() // db.t(id, v) + db.d(id, name)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.uret " +
      s"TBLPROPERTIES('pk'='id') AS " +
      s"SELECT id, SUM(v) AS total, COUNT(v) AS nv, COUNT(*) AS n FROM (" +
      s"  SELECT id, v FROM $cat.db.t UNION ALL SELECT id, id AS v FROM $cat.db.d" +
      s") GROUP BY id")
    // t: (1,10),(2,20),(3,30); d legs contribute v=id for ids 1,2
    assert(spark.sql(s"SELECT id, total, nv, n FROM $cat.db.uret ORDER BY id")
      .as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq((1L, 11L, 2L, 2L), (2L, 22L, 2L, 2L), (3L, 30L, 1L, 1L)))
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 3") // group 3 dies
    spark.sql(s"UPDATE $cat.db.t SET v = 12 WHERE id = 1") // group 1: 11 -> 13
    spark.sql(s"INSERT INTO $cat.db.d VALUES (9, 'z')") // group 9 born
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.uret')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-union-agg-retract"),
      s"expected the union retraction tier, got: $r")
    assert(spark.sql(s"SELECT id, total, nv, n FROM $cat.db.uret ORDER BY id")
      .as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq((1L, 13L, 2L, 2L), (2L, 22L, 2L, 2L), (9L, 9L, 1L, 1L)))
  }

  test("union MV: UNION ALL of two sources refreshes with one delta application; UNION falls back") {
    val (cat, w) = freshJoin() // db.t(id, v) + db.d(id, name)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.uni AS " +
      s"SELECT id, v * 2 AS x FROM $cat.db.t WHERE v >= 20 " +
      s"UNION ALL SELECT id, id AS x FROM $cat.db.d")
    assert(spark.sql(s"SELECT x FROM $cat.db.uni ORDER BY x")
      .as[Long].collect().toSeq === Seq(1L, 2L, 40L, 60L))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/uni/_storage").currentVersion
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40), (5, 5)") // 5 filtered out
    spark.sql(s"INSERT INTO $cat.db.d VALUES (9, 'z')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.uni')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-union"), s"expected union tier, got: $r")
    assert(spark.sql(s"SELECT x FROM $cat.db.uni ORDER BY x")
      .as[Long].collect().toSeq === Seq(1L, 2L, 9L, 40L, 60L, 80L))
    assert(TransactionalTable.open(spark, s"$w/db/uni/_storage").currentVersion
      === storageV0 + 1)
    // a one-sided interval substitutes an empty frame for the quiet leg
    spark.sql(s"INSERT INTO $cat.db.d VALUES (11, 'w')")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.uni')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-union: +1"), s"got: $r2")
    // UNION (distinct) cannot append-maintain: a new row duplicating an
    // old one would double — must recompute
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.unid AS " +
      s"SELECT id FROM $cat.db.t UNION SELECT id FROM $cat.db.d")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (100, 1)")
    val rd = spark.sql(s"CALL $cat.system.refresh_mv('db.unid')")
      .select("reason").as[String].head()
    assert(rd.startsWith("stale:"), s"UNION distinct must recompute, got: $rd")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.unid").as[Long].head() ===
      spark.sql(s"SELECT count(DISTINCT id) AS n FROM " +
        s"(SELECT id FROM $cat.db.t UNION ALL SELECT id FROM $cat.db.d)")
        .as[Long].head())
  }

  test("join MV: THREE-source telescoping delta — every mixed term counted exactly once") {
    val (cat, w) = freshJoin() // db.t(id, v) + db.d(id, name)
    TransactionalTable.create(spark, s"$w/db/f",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, w BIGINT"),
      "id", None)
    spark.sql(s"INSERT INTO $cat.db.f VALUES (1, 100), (2, 200)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.j3 AS " +
      s"SELECT t.id, t.v, d.name, f.w FROM $cat.db.t t " +
      s"JOIN $cat.db.d d ON t.id = d.id JOIN $cat.db.f f ON t.id = f.id")
    assert(spark.sql(s"SELECT id, v, name, w FROM $cat.db.j3 ORDER BY id")
      .as[(Long, Long, String, Long)].collect().toSeq ===
      Seq((1L, 10L, "a", 100L), (2L, 20L, "b", 200L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/j3/_storage").currentVersion
    // one interval touching ALL THREE sources, exercising every telescoping
    // term incl. the triple Δ-product (id 7 is new in t AND d AND f — it
    // must land exactly once) and the mixed pairs (id 3: old t, new d+f;
    // id 8: new t+d, old... none — new everywhere except t@v0)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (7, 70)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'c'), (7, 'g')")
    spark.sql(s"INSERT INTO $cat.db.f VALUES (3, 300), (7, 700)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.j3')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-join"), s"expected join IVM path, got: $r")
    assert(spark.sql(s"SELECT id, v, name, w FROM $cat.db.j3 ORDER BY id")
      .as[(Long, Long, String, Long)].collect().toSeq ===
      Seq((1L, 10L, "a", 100L), (2L, 20L, "b", 200L),
        (3L, 30L, "c", 300L), (7L, 70L, "g", 700L)))
    // one fenced append, not a replace
    assert(TransactionalTable.open(spark, s"$w/db/j3/_storage").currentVersion
      === storageV0 + 1)
    // replay safety carries over: rewind the recorded versions, refresh
    // heals via the tuple fence without double-applying
    val root = s"$w/db/j3"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.j3')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-join: +0"), s"expected fence heal, got $r2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.j3").as[Long].head() === 4L)
  }

  test("union MV: AGGREGATE over the union merges per-group deltas of the single application") {
    val (cat, w) = freshJoin()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.uagg " +
      s"TBLPROPERTIES('pk'='id') AS " +
      s"SELECT id, SUM(v) AS total, COUNT(*) AS n FROM (" +
      s"  SELECT id, v FROM $cat.db.t UNION ALL SELECT id, id AS v FROM $cat.db.d" +
      s") GROUP BY id")
    assert(spark.sql(s"SELECT id, total, n FROM $cat.db.uagg ORDER BY id")
      .as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 11L, 2L), (2L, 22L, 2L), (3L, 30L, 1L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/uagg/_storage").currentVersion
    // group update from each leg + a brand-new group in one interval
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 300), (9, 90)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (9, 'z')")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.uagg')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-union-agg"), s"expected union agg tier, got: $r")
    assert(spark.sql(s"SELECT id, total, n FROM $cat.db.uagg ORDER BY id")
      .as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 11L, 2L), (2L, 22L, 2L), (3L, 330L, 2L), (9L, 99L, 2L)))
    // delta MERGE commit, not a storage replace
    assert(TransactionalTable.open(spark, s"$w/db/uagg/_storage").currentVersion
      === storageV0 + 1)
  }

  test("join MV: self-joins ride the join tier (E171); outer joins never do") {
    val (cat, _) = freshJoin()
    // self-join: occurrence-level substitution (queue per identifier)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jself AS " +
      s"SELECT a.id, b.v FROM $cat.db.t a JOIN $cat.db.t b ON a.id = b.id")
    // LEFT JOIN: a new dim row would RETRACT the null-extended fact row —
    // incremental append-only maintenance is unsound, must recompute
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jleft AS " +
      s"SELECT t.id, d.name FROM $cat.db.t t LEFT JOIN $cat.db.d d ON t.id = d.id")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (6, 60)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (3, 'c')")
    val rSelf = spark.sql(s"CALL $cat.system.refresh_mv('db.jself')")
      .select("reason").as[String].head()
    assert(rSelf.startsWith("incremental-join: +1"),
      s"self-join must maintain incrementally, got: $rSelf")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.jself ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (6L, 60L)))
    val rLeft = spark.sql(s"CALL $cat.system.refresh_mv('db.jleft')")
      .select("reason").as[String].head()
    assert(rLeft.startsWith("stale:"), s"left join must recompute, got: $rLeft")
    // dim 3 arrived: the previously null-extended fact row is now matched
    assert(spark.sql(s"SELECT name FROM $cat.db.jleft WHERE id = 3")
      .as[String].head() === "c")
  }

  /** fresh() + a grouped source table `db.ev(id, grp, v)`. */
  private def freshGrouped(): (String, String) = {
    val (cat, w) = fresh()
    TransactionalTable.create(spark, s"$w/db/ev",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, grp STRING, v BIGINT"),
      "id", None)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (1,'a',10),(2,'a',20),(3,'b',5)")
    (cat, w)
  }

  test("aggregate MV: append-only interval refreshes by per-group delta MERGE") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.gagg AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx " +
      s"FROM $cat.db.ev GROUP BY grp")
    assert(spark.sql(s"SELECT * FROM $cat.db.gagg ORDER BY grp")
      .as[(String, Long, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 30L, 2L, 10L, 20L), ("b", 5L, 1L, 5L, 5L)))
    val storageV0 = TransactionalTable.open(spark, s"$w/db/gagg/_storage").currentVersion
    // grow an existing group, add a new one; group 'b' untouched
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',7),(5,'c',100)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.gagg')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-agg"), s"expected aggregate delta merge, got: $r")
    assert(spark.sql(s"SELECT * FROM $cat.db.gagg ORDER BY grp")
      .as[(String, Long, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 37L, 3L, 7L, 20L), ("b", 5L, 1L, 5L, 5L), ("c", 100L, 1L, 100L, 100L)))
    // ONE merge commit on storage, not a replace
    assert(TransactionalTable.open(spark, s"$w/db/gagg/_storage").currentVersion
      === storageV0 + 1)
    assert(spark.sql(s"CALL $cat.system.mv_status('db.gagg')")
      .select("fresh").as[Boolean].head() === true)
    // a second refresh with no new source commits is a clean no-op
    assert(spark.sql(s"CALL $cat.system.refresh_mv('db.gagg')")
      .select("refreshed").as[Boolean].head() === false)
  }

  /** Descriptions of the Spark jobs `body` starts (its own job group only). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      org.apache.spark.graftshim.ListenerDrain.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** The single-source aggregate definition the driver-local merge specs
    * maintain: every append-only kind (SUM, COUNT, MIN, MAX, AVG with its
    * companions, a derived ratio). */
  private def fullAggSql(cat: String): String =
    s"SELECT grp, SUM(v) AS sv, COUNT(v) AS nv, COUNT(*) AS n, MIN(v) AS mn, " +
      s"MAX(v) AS mx, AVG(v) AS av, SUM(v) / CAST(COUNT(*) AS DOUBLE) AS ratio " +
      s"FROM $cat.db.ev GROUP BY grp"

  test("aggregate MV: small append-only deltas merge driver-locally into one storage file") {
    val (cat, w) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.lagg TBLPROPERTIES('pk'='grp') AS " +
      fullAggSql(cat))
    val cols = "grp, sv, nv, n, mn, mx, av, ratio"
    // every round grows every existing group AND opens new ones (an
    // all-NULL-input group included), so each merge rewrites the whole view
    Seq(
      "(4,'a',7), (5,'b',1), (6,'c',100), (7,'d',NULL)",
      "(8,'a',-3), (9,'b',50), (10,'c',2), (11,'d',9), (12,'e',4)",
      "(13,'a',1), (14,'b',2), (15,'c',3), (16,'d',NULL), (17,'e',5), (18,'f',6)"
    ).zipWithIndex.foreach { case (values, i) =>
      spark.sql(s"INSERT INTO $cat.db.ev VALUES $values")
      val r = spark.sql(s"CALL $cat.system.refresh_mv('db.lagg')")
        .select("reason").as[String].head()
      assert(r.startsWith("incremental-agg:"), s"round $i: got $r")
      val view = spark.sql(s"SELECT $cols FROM $cat.db.lagg ORDER BY grp").collect().toSeq
      val full = spark.sql(s"SELECT $cols FROM (${fullAggSql(cat)}) ORDER BY grp")
        .collect().toSeq
      assert(view === full, s"round $i diverged from the full recompute")
      assert(TransactionalTable.open(spark, s"$w/db/lagg/_storage").snapshot.files.size === 1,
        s"round $i: a one-partition delta must write one storage file")
    }
  }

  test("aggregate MV: a delta past the driver-local cap takes the distributed path") {
    val (cat, _) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.bigagg TBLPROPERTIES('pk'='grp') AS " +
      fullAggSql(cat))
    val cap = TransactionalTable.BloomMaxRows.toInt
    // cap new groups plus existing group 'a': cap + 1 changed groups
    spark.sql(s"INSERT INTO $cat.db.ev SELECT id + 100, CONCAT('g', id), id % 7 " +
      s"FROM range($cap) UNION ALL SELECT 99, 'a', 1")
    val cols = "grp, sv, nv, n, mn, mx, av, ratio"
    // the path is chosen from the interval's manifest row bound before any
    // work: past the cap the delta is never collected (computed once, by
    // the checkpoint), under it always
    def check(expectPrefix: String, groups: Int, local: Boolean): Unit = {
      var r = ""
      val jobs = jobsDuring {
        r = spark.sql(s"CALL $cat.system.refresh_mv('db.bigagg')")
          .select("reason").as[String].head()
      }
      assert(r.startsWith(expectPrefix), s"got $r")
      assert(jobs.exists(_.startsWith("ivm-refresh:collect")) === local, jobs.mkString("\n"))
      val view = spark.sql(s"SELECT $cols FROM $cat.db.bigagg ORDER BY grp").collect().toSeq
      val full = spark.sql(s"SELECT $cols FROM (${fullAggSql(cat)}) ORDER BY grp")
        .collect().toSeq
      assert(view.size === groups && view === full)
    }
    check(s"incremental-agg: ${cap + 1} groups merged", cap + 2, local = false)
    // the next small delta is back under the cap, over the now-large view
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (20000,'a',3), (20001,'g5',4), (20002,'new',5)")
    check("incremental-agg: 3 groups merged", cap + 3, local = true)
  }

  test("aggregate MV: a small append-only refresh runs a bounded number of Spark jobs") {
    val (cat, _) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jagg TBLPROPERTIES('pk'='grp') AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev GROUP BY grp")
    // a stream-sized batch over six groups, as a CDC trigger delivers it
    def append(from: Int): Unit =
      spark.sql(s"INSERT INTO $cat.db.ev SELECT id, CONCAT('e', id % 6), id % 100 " +
        s"FROM range($from, ${from + 1000})")
    append(100)
    spark.sql(s"CALL $cat.system.refresh_mv('db.jagg')").collect()
    append(1100)
    var result = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring {
      result = spark.sql(s"CALL $cat.system.refresh_mv('db.jagg')").collect()
    }
    val reason = result.head.getAs[String]("reason")
    assert(reason.startsWith("incremental-agg: 6 groups merged"), reason)
    // delta collect (map stage + result), storage file pruning by the
    // delta's keys, stored-groups read, merge key collect, key broadcast +
    // write, PK-stats pass
    assert(jobs.size <= 8, jobs.mkString("\n"))
  }

  test("aggregate MV: delta merge is replay-fenced like the row-preserving path") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.fagg AS " +
      s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',7)")
    assert(spark.sql(s"CALL $cat.system.refresh_mv('db.fagg')")
      .select("reason").as[String].head().startsWith("incremental-agg"))
    // crash between storage merge and _view.json update: rewind recorded
    // source versions — the replayed refresh must fence, not double-add
    val root = s"$w/db/fagg"
    val meta = GraftViewStore.load(root, graft.table.PosixCommitIO)
    GraftViewStore.write(root,
      meta.copy(sourceVersions = meta.sourceVersions.map { case (k, _) => k -> 1L }), graft.table.PosixCommitIO)
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.fagg')")
      .select("reason").as[String].head()
    assert(r2.contains("+0") || r2.contains("fence"), s"expected fence heal, got $r2")
    assert(spark.sql(s"SELECT sv FROM $cat.db.fagg WHERE grp = 'a'")
      .as[Long].head() === 37L, "fence failed: delta applied twice")
  }

  test("aggregate MV: AVG and HAVING shapes fall back to the full recompute") {
    val (cat, _) = freshGrouped()
    // AVG is not delta-decomposable from the stored final
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.avgmv AS " +
      s"SELECT grp, AVG(v) AS av FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',40)")
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.avgmv')")
      .select("reason").as[String].head()
    assert(r1.startsWith("stale"), s"AVG must take the full path, got: $r1")
    assert(spark.sql(s"SELECT av FROM $cat.db.avgmv WHERE grp = 'a'")
      .as[Double].head() === (10.0 + 20 + 40) / 3)
    // HAVING: a group can CROSS the threshold when the delta lands — the
    // absent stored row makes delta-merge wrong, so it must go full
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.havmv AS " +
      s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp HAVING SUM(v) > 10")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (5,'b',6)")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.havmv')")
      .select("reason").as[String].head()
    assert(r2.startsWith("stale"), s"HAVING must take the full path, got: $r2")
    // b was 5 (filtered out), now 11 — only the full recompute finds it
    assert(spark.sql(s"SELECT sv FROM $cat.db.havmv WHERE grp = 'b'")
      .as[Long].head() === 11L)
  }

  test("aggregate MV: composite group key with declared composite pk merges incrementally") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.cagg " +
      s"TBLPROPERTIES('pk'='grp,parity') AS " +
      s"SELECT grp, id % 2 AS parity, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp, id % 2")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',7)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.cagg')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-agg"), s"expected delta merge, got: $r")
    // a/even was (2,'a',20) = 20, now + (4,'a',7) = 27
    assert(spark.sql(s"SELECT sv FROM $cat.db.cagg WHERE grp = 'a' AND parity = 0")
      .as[Long].head() === 27L)
    // default single-column pk on a 2-key group must NOT take the delta
    // path (merging on a partial key replaces the wrong rows) — falls back
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.cagg2 AS " +
      s"SELECT grp, id % 2 AS parity, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp, id % 2")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (6,'c',1)")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.cagg2')")
      .select("reason").as[String].head()
    assert(r2.startsWith("stale"), s"pk!=group keys must go full, got: $r2")
  }

  test("transparent MV rewrite: a fresh MV answers the raw aggregate query") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.rwagg AS " +
      s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp")
    val q = s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp"
    // rewritten = the aggregation vanished (the MV's stored result needs no
    // Aggregate) and the scan is the storage table's parquet relation
    def storageReads(sql: String): Boolean = {
      val plan = spark.sql(sql).queryExecution.optimizedPlan.toString
      !plan.contains("Aggregate")
    }
    try {
      // conf unset: no rewrite
      assert(!storageReads(q), "must not rewrite without opt-in")
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.rwagg")
      // fresh MV + exact match: the aggregate reads storage, results equal
      assert(storageReads(q), "fresh MV must answer the exact-match query")
      assert(spark.sql(q).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("a", 30L), ("b", 5L)))
      // a DIFFERENT query (extra filter) must NOT be claimed
      assert(!storageReads(
        s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev WHERE v > 5 GROUP BY grp"),
        "non-matching query must not rewrite")
      // stale MV: source advanced → falls back to the source (correct data)
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (9,'a',100)")
      assert(!storageReads(q), "stale MV must not serve old data")
      assert(spark.sql(q).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("a", 130L), ("b", 5L)))
      // refresh → fresh again → rewrites again, with the merged totals
      spark.sql(s"CALL $cat.system.refresh_mv('db.rwagg')")
      assert(storageReads(q), "refreshed MV must rewrite again")
      assert(spark.sql(q).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("a", 130L), ("b", 5L)))
    } finally spark.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
  }

  test("MV roll-up rewrite: coarser GROUP BY re-aggregates the MV, not the source") {
    val (cat, w) = freshGrouped()
    // finer-grained MV: (grp, parity) with the decomposable aggregate set
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.fine " +
      s"TBLPROPERTIES('pk'='grp,parity') AS " +
      s"SELECT grp, id % 2 AS parity, SUM(v) AS sv, COUNT(*) AS n, " +
      s"MIN(v) AS mn, MAX(v) AS mx FROM $cat.db.ev GROUP BY grp, id % 2")
    def srcScanned(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan.toString.contains("db.ev")
    try {
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.fine")
      // coarser grouping: answered by re-aggregating the MV
      val q1 = s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n, MIN(v) AS mn, " +
        s"MAX(v) AS mx FROM $cat.db.ev GROUP BY grp"
      assert(!srcScanned(q1), "roll-up must read the MV, not the source")
      assert(spark.sql(q1).as[(String, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq ===
        Seq(("a", 30L, 2L, 10L, 20L), ("b", 5L, 1L, 5L, 5L)))
      // GLOBAL aggregate rolls up too (count via sum-of-counts)
      val q2 = s"SELECT SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev"
      assert(!srcScanned(q2), "global roll-up must read the MV")
      assert(spark.sql(q2).as[(Long, Long)].head() === ((35L, 3L)))
      // AVG is not stored → falls through to the source (and is correct)
      val q3 = s"SELECT grp, AVG(v) AS av FROM $cat.db.ev GROUP BY grp"
      assert(srcScanned(q3), "AVG cannot roll up from sums-only storage")
      // grouping by a column the MV does not expose → source
      val q4 = s"SELECT id % 3 AS trip, SUM(v) AS sv FROM $cat.db.ev GROUP BY id % 3"
      assert(srcScanned(q4), "unexposed group key cannot roll up")
      // staleness: a new commit disables the roll-up until refresh
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',40)")
      assert(srcScanned(q1), "stale MV must not serve roll-ups")
      assert(spark.sql(q1).as[(String, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq ===
        Seq(("a", 70L, 3L, 10L, 40L), ("b", 5L, 1L, 5L, 5L)))
      spark.sql(s"CALL $cat.system.refresh_mv('db.fine')")
      assert(!srcScanned(q1), "refreshed MV rolls up again")
      assert(spark.sql(q1).as[(String, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq ===
        Seq(("a", 70L, 3L, 10L, 40L), ("b", 5L, 1L, 5L, 5L)))
    } finally spark.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
  }

  test("MV rewrite filter-subsumption: narrower WHERE reads the MV + residual") {
    val (cat, _) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    // row-preserving MV with a WHERE
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.rows AS " +
      s"SELECT id, grp, v FROM $cat.db.ev WHERE v >= 10")
    // aggregate MV with a WHERE
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.agg AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev WHERE v >= 10 GROUP BY grp")
    def srcScanned(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan.toString.contains("db.ev")
    try {
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey,
        s"$cat.db.rows,$cat.db.agg")
      // row tier: query WHERE ⊇ MV WHERE, residual id <= 1 applies on top
      val q1 = s"SELECT id, v FROM $cat.db.ev WHERE v >= 10 AND id <= 1"
      assert(!srcScanned(q1), "subsumed row query must read the MV")
      assert(spark.sql(q1).as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
      // aggregate tier, SAME grain + residual on the group key
      val q2 = s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev " +
        s"WHERE v >= 10 AND grp = 'a' GROUP BY grp"
      assert(!srcScanned(q2), "subsumed agg query must read the MV")
      assert(spark.sql(q2).as[(String, Long, Long)].collect().toSeq ===
        Seq(("a", 30L, 2L)))
      // aggregate tier, COARSER grain + residual (roll-up ∘ subsumption)
      val q3 = s"SELECT SUM(v) AS sv FROM $cat.db.ev WHERE v >= 10 AND grp = 'a'"
      assert(!srcScanned(q3), "global agg with residual must read the MV")
      assert(spark.sql(q3).as[Long].head() === 30L)
      // with BOTH MVs listed, this query composes: the row MV serves the
      // subsumed Filter BELOW the aggregate (count over MV rows + residual
      // v < 15 = count over source rows — row-preserving, so sound)
      val q4 = s"SELECT grp, COUNT(*) AS n FROM $cat.db.ev " +
        s"WHERE v >= 10 AND v < 15 GROUP BY grp"
      assert(!srcScanned(q4), "row MV should serve the filter under the aggregate")
      assert(spark.sql(q4).as[(String, Long)].collect().toSeq === Seq(("a", 1L)))
      // with ONLY the agg MV available, the same residual is on an
      // AGGREGATED column — filtering stored groups would be wrong → source
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.agg")
      assert(srcScanned(q4), "residual on an aggregated column must fall through")
      assert(spark.sql(q4).as[(String, Long)].collect().toSeq === Seq(("a", 1L)))
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey,
        s"$cat.db.rows,$cat.db.agg")
      // a WIDER query (missing the MV conjunct) must fall through
      val q5 = s"SELECT id, v FROM $cat.db.ev WHERE id <= 2"
      assert(srcScanned(q5), "non-subsumed WHERE must fall through")
      assert(spark.sql(q5).as[(Long, Long)].collect().toSet ===
        Set((1L, 10L), (2L, 20L)))
      // row tier: a residual referencing a column the MV drops → source
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.narrow AS " +
        s"SELECT id, v FROM $cat.db.ev WHERE v >= 10")
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.narrow")
      val q6 = s"SELECT id FROM $cat.db.ev WHERE v >= 10 AND grp = 'a'"
      assert(srcScanned(q6), "residual on an unexposed column must fall through")
      assert(spark.sql(q6).as[Long].collect().toSet === Set(1L, 2L))
      // staleness: a source commit disables the rewrite until refresh
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey,
        s"$cat.db.rows,$cat.db.agg")
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',40)")
      assert(srcScanned(q1), "stale MV must not serve the subsumed query")
      assert(spark.sql(q2).as[(String, Long, Long)].collect().toSeq ===
        Seq(("a", 70L, 3L)), "fallback recomputes from source")
      spark.sql(s"CALL $cat.system.refresh_mv('db.agg')")
      assert(!srcScanned(q2), "refreshed MV serves again")
      assert(spark.sql(q2).as[(String, Long, Long)].collect().toSeq ===
        Seq(("a", 70L, 3L)))
    } finally spark.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
  }

  test("MV rewrite join-containment: aggregates over the MV's stored join read storage") {
    val cat = s"graft_jc${System.nanoTime()}"
    val w = tmpDir("graft-jc-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    Files.createDirectories(Paths.get(s"$w/db"))
    TransactionalTable.create(spark, s"$w/db/f",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, k BIGINT, v BIGINT"),
      "id", None)
    TransactionalTable.create(spark, s"$w/db/d",
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, tag STRING"), "k", None)
    spark.sql(s"INSERT INTO $cat.db.f VALUES (1,1,10),(2,1,20),(3,2,5)")
    spark.sql(s"INSERT INTO $cat.db.d VALUES (1,'x'),(2,'y')")
    // row-preserving MV storing the fact ⋈ dim join (k itself not exposed)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.jmv AS " +
      s"SELECT f.id, f.v, d.tag FROM $cat.db.f f JOIN $cat.db.d d ON f.k = d.k")
    def srcScanned(sql: String): Boolean = {
      val p = spark.sql(sql).queryExecution.optimizedPlan.toString
      p.contains("db.f") || p.contains("db.d")
    }
    try {
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.jmv")
      // the containment shape: aggregate over the same join → MV storage
      val q1 = s"SELECT d.tag, SUM(f.v) AS sv FROM $cat.db.f f " +
        s"JOIN $cat.db.d d ON f.k = d.k GROUP BY d.tag"
      assert(!srcScanned(q1), "aggregate over the stored join must read MV storage")
      assert(spark.sql(q1).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("x", 30L), ("y", 5L)))
      // row-preserving ⇒ EVERY aggregate is sound, AVG and DISTINCT included
      // (the pre-aggregated roll-up tier must refuse these)
      val q2 = s"SELECT d.tag, AVG(f.v) AS av, COUNT(DISTINCT f.v) AS nd " +
        s"FROM $cat.db.f f JOIN $cat.db.d d ON f.k = d.k GROUP BY d.tag"
      assert(!srcScanned(q2), "AVG/DISTINCT aggregate over stored rows must read MV storage")
      assert(spark.sql(q2).as[(String, Double, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("x", 15.0, 2L), ("y", 5.0, 1L)))
      // residual WHERE the query adds on an exposed column applies on top
      val q3 = s"SELECT d.tag, SUM(f.v) AS sv FROM $cat.db.f f " +
        s"JOIN $cat.db.d d ON f.k = d.k WHERE f.v >= 10 GROUP BY d.tag"
      assert(!srcScanned(q3), "residual over the stored join must read MV storage")
      assert(spark.sql(q3).as[(String, Long)].collect().toSeq === Seq(("x", 30L)))
      // bare narrower projection of the join (no aggregate, no filter)
      val q4 = s"SELECT f.id FROM $cat.db.f f JOIN $cat.db.d d ON f.k = d.k"
      assert(!srcScanned(q4), "projection subset of the stored join must read MV storage")
      assert(spark.sql(q4).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
      // near-miss: a DIFFERENT join key is a different core → source
      val q5 = s"SELECT d.tag, SUM(f.v) AS sv FROM $cat.db.f f " +
        s"JOIN $cat.db.d d ON f.id = d.k GROUP BY d.tag"
      assert(srcScanned(q5), "a different join key must not be claimed")
      assert(spark.sql(q5).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("x", 10L), ("y", 20L)))
      // a column the MV does not expose (the join key) → source
      val q6 = s"SELECT d.tag, SUM(f.k) AS sk FROM $cat.db.f f " +
        s"JOIN $cat.db.d d ON f.k = d.k GROUP BY d.tag"
      assert(srcScanned(q6), "aggregating an unexposed column must fall through")
      // staleness: a fact commit reverts to the source until refresh
      spark.sql(s"INSERT INTO $cat.db.f VALUES (4,2,40)")
      assert(srcScanned(q1), "stale MV must not serve the join query")
      assert(spark.sql(q1).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("x", 30L), ("y", 45L)))
      spark.sql(s"CALL $cat.system.refresh_mv('db.jmv')")
      assert(!srcScanned(q1), "refreshed MV serves the join query again")
      assert(spark.sql(q1).as[(String, Long)].collect().sortBy(_._1).toSeq ===
        Seq(("x", 30L), ("y", 45L)))
    } finally spark.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
  }

  test("MV rewrite composes under HAVING: the filter stays, the aggregate reads the MV") {
    val (cat, _) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.hmv AS " +
      s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp")
    try {
      spark.conf.set(graft.sql.GraftMvRewriteRule.ConfKey, s"$cat.db.hmv")
      // HAVING = Filter ABOVE the matched Aggregate: the inner exact match
      // rewrites, the filter applies on top of the stored results
      val q = s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp HAVING SUM(v) > 10"
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("db.ev"), "HAVING query must still read the MV")
      assert(df.as[(String, Long)].collect().toSeq === Seq(("a", 30L)))
    } finally spark.conf.unset(graft.sql.GraftMvRewriteRule.ConfKey)
  }

  test("aggregate MV retraction: deletes and updates net-merge; dead groups leave storage") {
    val (cat, w) = freshGrouped()
    // SUM(v) paired with COUNT(v) + COUNT(*) — the retraction-eligible shape
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.ragg AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(v) AS nv, COUNT(*) AS n " +
      s"FROM $cat.db.ev GROUP BY grp")
    val storageV0 = TransactionalTable.open(spark, s"$w/db/ragg/_storage").currentVersion
    // interval with churn: delete one of a's rows, UPDATE the other (via
    // engine UPDATE = delete+insert in the changelog), kill group b
    // entirely, and add a new group c
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1")
    spark.sql(s"UPDATE $cat.db.ev SET v = 25 WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 3") // b's only row
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (7,'c',70)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.ragg')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true)
    assert(r._2.startsWith("incremental-agg-retract"),
      s"expected the retraction path, got: $r")
    assert(spark.sql(s"SELECT grp, sv, nv, n FROM $cat.db.ragg ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("a", 25L, 1L, 1L), ("c", 70L, 1L, 1L)),
      "group b must be DELETED from storage, a netted, c inserted")
    // one fenced MERGE commit, not a replace
    assert(TransactionalTable.open(spark, s"$w/db/ragg/_storage").currentVersion
      === storageV0 + 1)
    assert(spark.sql(s"CALL $cat.system.mv_status('db.ragg')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("aggregate MV retraction respects the definition's WHERE on both image sides") {
    val (cat, _) = freshGrouped() // ev: (1,'a',10),(2,'a',20),(3,'b',5)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.wagg AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(v) AS nv, COUNT(*) AS n " +
      s"FROM $cat.db.ev WHERE v >= 10 GROUP BY grp")
    // initial: only a's rows pass the filter
    assert(spark.sql(s"SELECT grp, sv, n FROM $cat.db.wagg ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq === Seq(("a", 30L, 2L)))
    // delete a filtered-OUT row (b,5): must retract NOTHING; delete a
    // passing row (a,20): must retract from a
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 3")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.wagg')")
      .select("reason").as[String].head()
    assert(r.startsWith("incremental-agg-retract"), s"got: $r")
    assert(spark.sql(s"SELECT grp, sv, n FROM $cat.db.wagg ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq === Seq(("a", 10L, 1L)))
  }

  test("aggregate MV retraction guards: MIN/MAX or missing COUNT pairs go full recompute") {
    val (cat, _) = freshGrouped()
    // MIN cannot retract
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.rmin AS " +
      s"SELECT grp, MIN(v) AS mn, COUNT(*) AS n FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 2") // a's max; min survives but rule can't know
    val r1 = spark.sql(s"CALL $cat.system.refresh_mv('db.rmin')")
      .select("reason").as[String].head()
    assert(r1.startsWith("stale"), s"MIN under deletes must go full, got: $r1")
    assert(spark.sql(s"SELECT mn FROM $cat.db.rmin WHERE grp = 'a'").as[Long].head() === 10L)
    // SUM without a paired COUNT(v): the null-when-empty case is
    // undecidable from the stored sum → full
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.rsum AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"DELETE FROM $cat.db.ev WHERE id = 1")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.rsum')")
      .select("reason").as[String].head()
    assert(r2.startsWith("stale"), s"unpaired SUM under deletes must go full, got: $r2")
  }

  test("multi-arg COUNT(a,b) never pairs with SUM(a) for retraction") {
    // COUNT(a,b) counts rows where BOTH are non-null; recording its arg as
    // `a` would pair it with SUM(a), and a group whose COUNT(a,b) nets to 0
    // while non-null `a` values remain would get its sum wrongly NULLed.
    // The shape must take the full recompute instead.
    val (cat, _) = fresh()
    val w2 = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    TransactionalTable.create(spark, s"$w2/db/ab",
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, grp STRING, a BIGINT, b BIGINT"), "id", None)
    spark.sql(s"INSERT INTO $cat.db.ab VALUES (1,'g',10,1),(2,'g',20,NULL)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mab AS " +
      s"SELECT grp, SUM(a) AS sa, COUNT(a, b) AS nab, COUNT(*) AS n " +
      s"FROM $cat.db.ab GROUP BY grp")
    assert(spark.sql(s"SELECT sa, nab, n FROM $cat.db.mab")
      .as[(Long, Long, Long)].head() === ((30L, 1L, 2L)))
    // delete the only row with both a,b non-null: COUNT(a,b) → 0, but
    // SUM(a)=20 must SURVIVE (row 2 still has a non-null a)
    spark.sql(s"DELETE FROM $cat.db.ab WHERE id = 1")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.mab')")
      .select("reason").as[String].head()
    assert(r.startsWith("stale"), s"multi-arg COUNT under deletes must go full, got: $r")
    assert(spark.sql(s"SELECT sa, nab, n FROM $cat.db.mab")
      .as[(Option[Long], Long, Long)].head() === ((Some(20L), 0L, 1L)))
    // append-only intervals still ride the incremental path: multi-arg
    // COUNT's delta algebra is plain addition
    spark.sql(s"INSERT INTO $cat.db.ab VALUES (3,'g',5,7)")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mv('db.mab')")
      .select("reason").as[String].head()
    assert(r2.startsWith("incremental-agg"), s"append interval should merge, got: $r2")
    assert(spark.sql(s"SELECT sa, nab, n FROM $cat.db.mab")
      .as[(Long, Long, Long)].head() === ((25L, 1L, 2L)))
  }

  test("aggregate MV: NULL group keys force the full recompute (PK merge cannot match NULL)") {
    // The storage MERGE matches rows by PK and NULL never equals NULL
    // there — an incremental delta for a NULL group would silently not
    // apply (caught by test). The guard must detect the NULL key at
    // refresh time and take the full path, which handles NULL groups.
    val (cat, _) = fresh()
    val w2 = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    TransactionalTable.create(spark, s"$w2/db/ev",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, grp STRING, v BIGINT"),
      "id", None)
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (1,'a',10),(2,NULL,20),(3,NULL,5)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.nagg AS " +
      s"SELECT grp, SUM(v) AS sv, COUNT(*) AS n FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,NULL,7)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.nagg')")
      .select("reason").as[String].head()
    assert(r.startsWith("stale"), s"NULL group key must force the full path, got: $r")
    assert(spark.sql(s"SELECT sv, n FROM $cat.db.nagg WHERE grp IS NULL")
      .as[(Long, Long)].collect().toSeq === Seq((32L, 3L)))
    // a NULL-free interval on the same MV still goes incremental
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (5,'a',1)")
    assert(spark.sql(s"CALL $cat.system.refresh_mv('db.nagg')")
      .select("reason").as[String].head().startsWith("incremental-agg"))
    assert(spark.sql(s"SELECT sv FROM $cat.db.nagg WHERE grp = 'a'").as[Long].head() === 11L)
  }

  test("racing refresh_mv calls: the interval applies exactly once") {
    val (cat, w) = freshGrouped()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.race AS " +
      s"SELECT grp, SUM(v) AS sv FROM $cat.db.ev GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (4,'a',7)")
    // two concurrent refreshes of the SAME stale interval: the storage
    // fence (batchId = source version) must make the loser a no-op — the
    // delta lands exactly once, whatever the interleaving
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fs = (1 to 2).map(_ => Future {
      spark.sql(s"CALL $cat.system.refresh_mv('db.race')").collect()
    })
    try fs.foreach(Await.result(_, 120.seconds))
    finally pool.shutdown()
    assert(spark.sql(s"SELECT sv FROM $cat.db.race WHERE grp = 'a'")
      .as[Long].head() === 37L, "racing refreshes double- or zero-applied the delta")
    // and the table is consistently fresh afterwards
    assert(spark.sql(s"CALL $cat.system.mv_status('db.race')")
      .select("fresh").as[Boolean].head() === true)
  }

  test("materialized view: delete in the interval forces the full recompute path") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.incd AS " +
      s"SELECT id, v FROM $cat.db.t")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.incd')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true && r._2.startsWith("stale"), s"got: $r")
    assert(spark.sql(s"SELECT id FROM $cat.db.incd ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
  }

  test("materialized view: aggregate definition always uses the full recompute path") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.inca AS " +
      s"SELECT CAST(SUM(v) AS BIGINT) AS s FROM $cat.db.t")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('db.inca')")
      .select("refreshed", "reason").as[(Boolean, String)].head()
    assert(r._1 === true && r._2.startsWith("stale"), s"got: $r")
    assert(spark.sql(s"SELECT s FROM $cat.db.inca").as[Long].head() === 100L)
  }

  test("SHOW CREATE TABLE reconstructs view and MV definitions") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.scv (a, b) TBLPROPERTIES('team'='core') AS " +
      s"SELECT id, v FROM $cat.db.t")
    val stmt = spark.sql(s"SHOW CREATE TABLE $cat.db.scv").as[String].head()
    assert(stmt.startsWith(s"CREATE VIEW $cat.db.scv (a, b)"))
    assert(stmt.contains("'team' = 'core'") && stmt.contains(s"AS SELECT id, v FROM $cat.db.t"))
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.scm AS SELECT id FROM $cat.db.t")
    assert(spark.sql(s"SHOW CREATE TABLE $cat.db.scm").as[String].head()
      .startsWith(s"CREATE MATERIALIZED VIEW $cat.db.scm"))
    // plain tables keep Spark's native SHOW CREATE path
    assert(spark.sql(s"SHOW CREATE TABLE $cat.db.t").as[String].head()
      .startsWith(s"CREATE TABLE $cat.db.t"))
  }

  test("DESCRIBE [EXTENDED] works on views and materialized views") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.dv (a COMMENT 'the id', b) AS SELECT id, v FROM $cat.db.t")
    val cols = spark.sql(s"DESCRIBE $cat.db.dv")
      .select("col_name", "data_type", "comment")
      .as[(String, String, String)].collect().toSeq
    assert(cols === Seq(("a", "bigint", "the id"), ("b", "bigint", null)))
    val ext = spark.sql(s"DESCRIBE EXTENDED $cat.db.dv")
      .select("col_name", "data_type").as[(String, String)].collect().toMap
    assert(ext("Type") === "VIEW")
    assert(ext("View Text").contains("SELECT id, v FROM"))
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.dm AS SELECT id FROM $cat.db.t")
    assert(spark.sql(s"DESCRIBE EXTENDED $cat.db.dm")
      .select("col_name", "data_type").as[(String, String)].collect().toMap
      .apply("Type") === "MATERIALIZED VIEW")
  }

  test("materialized view: PARTITIONED BY flows to the storage table and survives refresh") {
    val (cat, w) = fresh()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.pm PARTITIONED BY (bucket(4, id)) " +
      s"TBLPROPERTIES('pk'='id') AS SELECT id, v FROM $cat.db.t")
    val storage = graft.table.TransactionalTable.open(spark, s"$w/db/pm/_storage")
    assert(storage.pk === "id")
    assert(storage.partitionSpec.exists(_.desc.kind == "bucket"))
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    spark.sql(s"CALL $cat.system.refresh_mv('db.pm')").collect()
    val after = graft.table.TransactionalTable.open(spark, s"$w/db/pm/_storage")
    assert(after.partitionSpec.exists(_.desc.kind == "bucket"), "refresh dropped the spec")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.pm").as[Long].head() === 4L)
  }

  test("DSv2 ViewCatalog API: createView/replaceView/rename/drop round-trip") {
    import org.apache.spark.sql.connector.catalog.ViewInfo
    import org.apache.spark.sql.types.StructType
    val (cat, _) = fresh()
    val g = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[GraftCatalog]
    val id = Identifier.of(Array("db"), "api_v")
    val schema = StructType.fromDDL("id BIGINT")
    val info = new ViewInfo(id, s"SELECT id FROM $cat.db.t", cat, Array("db"),
      schema, Array("id"), Array("id"), Array(null),
      java.util.Collections.singletonMap("k", "v"))
    val v = g.createView(info)
    assert(v.query() === s"SELECT id FROM $cat.db.t" && v.properties().get("k") === "v")
    intercept[Exception](g.createView(info)) // already exists
    // SQL reads resolve the API-created view
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.api_v").as[Long].head() === 3L)
    // replaceView appends a definition version
    val info2 = new ViewInfo(id, s"SELECT v FROM $cat.db.t", cat, Array("db"),
      StructType.fromDDL("v BIGINT"), Array("v"), Array("v"), Array(null),
      java.util.Collections.emptyMap())
    g.replaceView(info2, false)
    assert(g.loadView(id).query() === s"SELECT v FROM $cat.db.t")
    val id2 = Identifier.of(Array("db"), "api_v2")
    g.renameView(id, id2)
    assert(!g.viewExists(id) && g.viewExists(id2))
    assert(g.dropView(id2) && !g.dropView(id2))
  }

  test("view body CTE whose name shadows the base table stays unqualified") {
    val (cat, _) = fresh()
    val prevCat = spark.sessionState.catalogManager.currentCatalog.name
    try {
      spark.sql(s"USE $cat.db")
      // CTE `t` shadows the base table `t`: inside the CTE body, `t` is the
      // real table (qualified against the defining namespace); the outer
      // SELECT's `t` is the CTE and must NOT be catalog-qualified
      spark.sql("CREATE VIEW cte_view AS " +
        "WITH t AS (SELECT id, v * 100 AS v100 FROM t WHERE id <= 2) " +
        "SELECT sum(v100) AS s FROM t")
      spark.sql("USE spark_catalog")
      assert(spark.sql(s"SELECT s FROM $cat.db.cte_view").as[Long].head() === 3000L)
    } finally spark.sql(s"USE $prevCat")
  }

  test("view body with CTE + GROUP BY ordinal + ORDER BY ordinal + UNION resolves") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.fancy AS " +
      s"WITH base AS (SELECT id % 2 AS parity, v FROM $cat.db.t) " +
      s"SELECT parity, CAST(SUM(v) AS BIGINT) AS s FROM base GROUP BY 1 " +
      s"UNION ALL SELECT CAST(9 AS BIGINT), CAST(0 AS BIGINT)")
    val rows = spark.sql(s"SELECT parity, s FROM $cat.db.fancy ORDER BY 1")
      .as[(Long, Long)].collect().toSeq
    // parity 0 → v=20; parity 1 → v=10+30=40; plus the (9, 0) union arm
    assert(rows === Seq((0L, 20L), (1L, 40L), (9L, 0L)))
  }

  test("view reads are snapshot-live: new commits to the base table show through") {
    val (cat, _) = fresh()
    spark.sql(s"CREATE VIEW $cat.db.live AS SELECT sum(v) AS s FROM $cat.db.t")
    assert(spark.sql(s"SELECT s FROM $cat.db.live").as[Long].head() === 60L)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 40)")
    assert(spark.sql(s"SELECT s FROM $cat.db.live").as[Long].head() === 100L)
  }
}
