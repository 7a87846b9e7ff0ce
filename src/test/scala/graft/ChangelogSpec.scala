package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{MergeMode, TransactionalTable}

/** Incremental changelog reads (TransactionalTable.changes): net row diffs
  * between snapshots, across all three merge modes, plus the invariants the
  * driver queries can't express (compaction transparency, full-state read
  * from v0, changed-file-only planning).
  */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private val sch = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def mk(prefix: String): TransactionalTable =
    TransactionalTable.create(spark, tmpDir(prefix) + "/t", sch, "id", None)

  private def rows(t: (Long, String)*): org.apache.spark.sql.DataFrame =
    t.toSeq.toDF("id", "v")

  private val noDel = {
    lazy val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(StructField("id", LongType))))
    empty
  }

  private def diff(t: TransactionalTable, from: Long, to: Long): Set[(Long, String, String)] =
    t.changes(from, to).select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet

  private def applyScenario(t: TransactionalTable, mode: MergeMode): (Long, Long) = {
    t.merge(rows(1L -> "a", 2L -> "b", 3L -> "c"), noDel, batchId = 0, mode)
    val v1 = t.currentVersion
    // update 2, delete 3, insert 4
    t.merge(rows(2L -> "B", 4L -> "d"), Seq(3L).toDF("id"), batchId = 1, mode)
    (v1, t.currentVersion)
  }

  private val expected = Set(
    (2L, "b", "delete"), (2L, "B", "insert"),
    (3L, "c", "delete"), (4L, "d", "insert"))

  test("changes: net diff is identical across CoW, MOR-equality and MOR-positional") {
    for (mode <- Seq(MergeMode.CopyOnWrite, MergeMode.MergeOnRead,
        MergeMode.MergeOnReadPositional)) {
      val t = mk(s"chg-$mode")
      val (v1, v2) = applyScenario(t, mode)
      assert(diff(t, v1, v2) === expected, s"mode=$mode")
    }
  }

  test("changes(0, v) is the full state as inserts; changes(v, v) is empty") {
    val t = mk("chg-full")
    val (_, v2) = applyScenario(t, MergeMode.CopyOnWrite)
    assert(diff(t, 0, v2) ===
      Set((1L, "a", "insert"), (2L, "B", "insert"), (4L, "d", "insert")))
    assert(diff(t, v2, v2) === Set.empty)
  }

  test("changesBounded: the manifest row bound covers every changed row in each mode") {
    for (mode <- Seq(MergeMode.CopyOnWrite, MergeMode.MergeOnRead,
        MergeMode.MergeOnReadPositional)) {
      val t = mk(s"chg-bound-$mode")
      val (v1, v2) = applyScenario(t, mode)
      // an append-only interval is bounded by exactly its added rows
      assert(t.changesBounded(0, v1)._2 === 3, s"mode=$mode")
      val (df, bound) = t.changesBounded(v1, v2)
      assert(df.count() === expected.size, s"mode=$mode")
      assert(bound >= expected.size, s"mode=$mode: bound $bound")
    }
  }

  test("changes across a pure compaction interval is empty") {
    val t = mk("chg-compact")
    val (_, v2) = applyScenario(t, MergeMode.MergeOnRead)
    t.compact()
    val v3 = t.currentVersion
    assert(v3 > v2, "compaction must have committed")
    assert(diff(t, v2, v3) === Set.empty,
      "physical rewrite with identical logical rows must diff to zero")
  }

  test("changes reads only changed files (carried files outside churn not planned)") {
    val t = mk("chg-pruned")
    // batch 0: two far-apart key clusters land (after compactClustered) in
    // files with disjoint pk ranges
    t.merge((1L to 100L).map(i => i -> s"v$i").toDF("id", "v"), noDel, batchId = 0)
    t.merge((1000001L to 1000100L).map(i => i -> s"v$i").toDF("id", "v"), noDel, batchId = 1)
    t.compactClustered(targetFiles = 4)
    val v1 = t.currentVersion
    // batch 2 touches ONLY the low cluster
    t.merge(rows(50L -> "X"), noDel, batchId = 2)
    val v2 = t.currentVersion
    assert(diff(t, v1, v2) === Set((50L, "v50", "delete"), (50L, "X", "insert")))
    // planning proof: destroy the high-cluster files on disk — the diff must
    // still answer (it never plans those carried files)
    val snap = t.snapshot
    val highFiles = snap.files.filter(_.pkMin >= 1000000L)
    assert(highFiles.nonEmpty, "test premise: a file holding only the high cluster")
    highFiles.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(diff(t, v1, v2) === Set((50L, "v50", "delete"), (50L, "X", "insert")),
      "diff after destroying untouched carried files: they were never planned")
  }

  test("property: before-state + changelog reproduces the after-state, any interval") {
    val t = mk("chg-prop")
    val rnd = new scala.util.Random(42)
    for (b <- 0 until 5) {
      val ups = Seq.fill(rnd.nextInt(8) + 1)(
        (rnd.nextInt(30).toLong + 1, s"b$b-${rnd.nextInt(100)}")).distinct
      val upKeys = ups.map(_._1).toSet
      val dels = Seq.fill(rnd.nextInt(4))(rnd.nextInt(30).toLong + 1)
        .distinct.filterNot(upKeys) // post-W1 contract: disjoint key sets
      t.merge(ups.toDF("id", "v"), dels.toDF("id"), batchId = b.toLong)
    }
    val cur = t.currentVersion
    def stateAt(v: Long): Set[(Long, String)] =
      t.scanAt(v).select("id", "v").as[(Long, String)].collect().toSet
    for (from <- 0L to cur; to <- from to cur) {
      val d = t.changes(from, to).select("id", "v", "_change_type")
        .as[(Long, String, String)].collect()
      val ins = d.collect { case (i, v, "insert") => (i, v) }.toSet
      val del = d.collect { case (i, v, "delete") => (i, v) }.toSet
      assert((stateAt(from) -- del) ++ ins === stateAt(to),
        s"interval [$from, $to] must reconstruct")
    }
  }

  test("changes sees later-added columns null-filled on the before side") {
    val t = mk("chg-schema")
    t.merge(rows(1L -> "a"), noDel, batchId = 0)
    val v1 = t.currentVersion
    val t2 = t.addColumn("extra", IntegerType)
    t2.merge(Seq((2L, "b", 7)).toDF("id", "v", "extra"), noDel, batchId = 1)
    val out = t2.changes(v1, t2.currentVersion)
      .select("id", "v", "extra", "_change_type")
      .as[(Long, String, Option[Int], String)].collect().toSet
    assert(out === Set((2L, "b", Some(7), "insert")))
  }
}
