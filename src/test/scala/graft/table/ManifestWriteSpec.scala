package graft.table

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Bloom

/** The write path ([[org.apache.spark.sql.graftshim.ManifestWrite]]): every
  * manifest entry a commit writes carries exactly the stats the footer read
  * and the separate PK pass used to give; a commit that loses its CAS leaves
  * the prior version and only orphans; a commit runs one job per file set. */
class ManifestWriteSpec extends graft.SparkSpec {
  import spark.implicits._

  private val sch = StructType.fromDDL(
    "id LONG, v STRING, n INT, s SMALLINT, ts TIMESTAMP, d DATE")

  /** Rows `ids` of [[sch]]; `n` is NULL on every seventh row. */
  private def rowsOf(ids: Seq[Int], tag: String): DataFrame =
    ids.map { i =>
      (i.toLong, s"$tag$i", if (i % 7 == 0) None else Some(i * 3), (i % 50).toShort,
        new java.sql.Timestamp(1700000000000L + i * 3600000L),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 40)))
    }.toDF("id", "v", "n", "s", "ts", "d")

  private def idKeys(ids: Seq[Int]): DataFrame = ids.map(_.toLong).toDF("id")

  private def keyCol(t: TransactionalTable): Column =
    if (t.pkHashed) xxhash64(t.pkCols.map(col): _*) else col(t.pkCols.head).cast("long")

  /** Non-null keys of `paths` in the manifest key domain, read back. */
  private def keysOf(t: TransactionalTable, paths: Seq[String]): Array[Long] =
    spark.read.schema(StructType(t.pkCols.map(t.schema(_)))).parquet(paths: _*)
      .select(keyCol(t)).collect().filterNot(_.isNullAt(0)).map(_.getLong(0))

  /** A data file's entry equals its footer stats, the key range and Bloom
    * the separate post-write PK pass built, and its size on disk. */
  private def checkDataFile(t: TransactionalTable, f: DataFile): Unit = {
    val p = Paths.get(f.path)
    val (rows, mn, mx, stats, _) = t.fileFooterStats(p)
    assert(f.rows === rows, f.path)
    assert(f.bytes === Files.size(p), f.path)
    assert(f.stats === stats, f.path)
    val keys = keysOf(t, Seq(f.path))
    val range = if (t.pkHashed) (keys.min, keys.max) else (mn, mx)
    assert((f.pkMin, f.pkMax) === range, f.path)
    val bloom =
      if (rows > TransactionalTable.BloomMaxRows || keys.isEmpty) None
      else {
        val w = new Array[Long](Bloom.Bits / 64)
        keys.foreach(Bloom.set(w, _))
        Some(Bloom.encode(w))
      }
    assert(f.bloom === bloom, f.path)
  }

  private def parquetIn(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq }
    finally s.close()
  }

  /** A delete entry (a directory) equals its files' footers and sizes. */
  private def checkDeleteFile(t: TransactionalTable, d: DeleteFile): Unit = {
    val parts = parquetIn(Paths.get(d.path))
    val footers = parts.map(p => p -> t.fileFooterStats(p))
    assert(d.rows === footers.map(_._2._1).sum, d.path)
    assert(d.bytes === parts.map(Files.size).sum, d.path)
    val live = footers.filter(_._2._1 > 0)
    val range =
      if (d.kind == DeleteFile.Position) (Long.MinValue, Long.MaxValue)
      else if (t.pkHashed) {
        val k = keysOf(t, live.map(_._1.toString)); (k.min, k.max)
      } else (live.map(_._2._2).min, live.map(_._2._3).max)
    assert((d.pkMin, d.pkMax) === range, d.path)
  }

  /** Every data and delete entry of every retained version. */
  private def checkAll(t: TransactionalTable): Unit = {
    val snaps = (0L to t.currentVersion).filter(t.manifestExists).map(t.snapshotAt)
    val files = snaps.flatMap(_.files).groupBy(_.path).values.map(_.head).toSeq
    val deletes = snaps.flatMap(_.deletes).filter(_.kind != DeleteFile.Vector)
      .groupBy(_.path).values.map(_.head).toSeq
    assert(files.nonEmpty)
    files.foreach(checkDataFile(t, _))
    deletes.foreach(checkDeleteFile(t, _))
  }

  test("stats equivalence: copy-on-write merges and empty writes") {
    val t = TransactionalTable.create(spark, tmpDir("mw-cow"), sch, "id")
    t.append(rowsOf(0 until 300, "a").repartition(3), batchId = 0)
    t.merge(rowsOf(50 until 80, "b"), idKeys(0 until 10), batchId = 1)
    val before = t.snapshot.files.map(_.path).toSet
    t.append(rowsOf(Nil, "e"), batchId = 2)
    t.merge(rowsOf(Nil, "e"), idKeys(Nil), batchId = 3)
    assert(t.snapshot.files.map(_.path).toSet === before, "an empty write adds no entry")
    assert(t.snapshot.files.exists(_.stats.contains("ts")), "INT64 micros carry ts stats")
    assert(t.snapshot.files.forall(_.bloom.isDefined))
    checkAll(t)
  }

  test("stats equivalence: merge-on-read equality and positional deletes") {
    for (mode <- Seq(MergeMode.MergeOnRead, MergeMode.MergeOnReadPositional)) {
      val t = TransactionalTable.create(spark, tmpDir("mw-mor"), sch, "id")
      t.append(rowsOf(0 until 200, "a").repartition(2), batchId = 0)
      t.merge(rowsOf(20 until 60, "b"), idKeys(150 until 160), batchId = 1, mode)
      t.merge(rowsOf(40 until 45, "c"), idKeys(Nil), batchId = 2, mode)
      t.merge(rowsOf(Nil, "e"), idKeys(Nil), batchId = 3, mode)
      val kinds = t.snapshot.deletes.map(_.kind).toSet
      assert(kinds === Set(if (mode == MergeMode.MergeOnRead) DeleteFile.Equality
        else DeleteFile.Position), mode.toString)
      checkAll(t)
      assert(t.scan().count() === 190L)
    }
  }

  test("stats equivalence: identity and hidden-transform partitioning") {
    val specs = Seq(PartitionTransform.Identity("v"), PartitionTransform.Days("ts"),
      PartitionTransform.Bucket(4, "id"))
    for (spec <- specs) {
      val t = TransactionalTable.createPartitioned(spark, tmpDir("mw-part"), sch, "id",
        Some(spec))
      // identity values that need escaping in a directory name
      val odd = Seq("a:b", "x y", "p%q", "s/t").zipWithIndex
      val rows = rowsOf(0 until 120, "a").withColumn("v",
        element_at(typedLit(odd.map(_._1)), (col("id") % 4 + 1).cast("int")))
      t.append(rows.repartition(2), batchId = 0)
      t.merge(rows.where($"id" < 10).withColumn("n", lit(1)), idKeys(100 until 104),
        batchId = 1, MergeMode.MergeOnRead)
      checkAll(t)
      if (spec.isInstanceOf[PartitionTransform.Identity])
        assert(t.snapshot.files.flatMap(_.partition).toSet === odd.map(_._1).toSet)
      assert(t.snapshot.files.forall(_.partition.isDefined))
    }
  }

  test("stats equivalence: string and composite primary keys") {
    val strT = TransactionalTable.create(spark, tmpDir("mw-str"),
      StructType.fromDDL("k STRING, v STRING, n INT"), "k")
    val comp = TransactionalTable.create(spark, tmpDir("mw-comp"),
      StructType.fromDDL("a INT, b STRING, n LONG"), "a,b")
    val strRows = (0 until 150).map(i => (s"key-$i", s"v$i", i)).toDF("k", "v", "n")
    val compRows = (0 until 150).map(i => (i % 10, s"b$i", i.toLong)).toDF("a", "b", "n")
    for ((t, rows) <- Seq(strT -> strRows, comp -> compRows)) {
      assert(t.pkHashed)
      t.append(rows.repartition(2), batchId = 0)
      val keys = rows.limit(5).select(t.pkCols.map(col): _*)
      t.merge(rows.limit(20), keys, batchId = 1, MergeMode.MergeOnRead)
      t.merge(rows.limit(20), keys, batchId = 2, MergeMode.MergeOnReadPositional)
      t.merge(rows.where(col("n") > 140), keys, batchId = 3)
      checkAll(t)
    }
  }

  test("stats equivalence: rolled files, row-lineage order, a file past the Bloom cap") {
    val t = TransactionalTable.create(spark, tmpDir("mw-roll"), sch, "id")
    t.setMaxRecordsPerFile(40)
    t.setRowLineage(true)
    t.append(rowsOf(0 until 300, "a").repartition(2), batchId = 0)
    val files = t.snapshot.files
    assert(files.size >= 8 && files.forall(_.rows <= 40))
    // firstRowId ranges are contiguous in path order (split, then counter)
    val byPath = files.sortBy(_.path)
    byPath.zip(byPath.tail).foreach { case (a, b) =>
      assert(b.firstRowId.get === a.firstRowId.get + a.rows)
    }
    assert(byPath.head.firstRowId === Some(0L))
    checkAll(t)

    val big = TransactionalTable.create(spark, tmpDir("mw-big"), sch, "id")
    big.append(rowsOf(0 until 9000, "a").coalesce(1), batchId = 0)
    assert(big.snapshot.files.map(_.rows) === Seq(9000L))
    assert(big.snapshot.files.head.bloom.isEmpty)
    checkAll(big)
  }

  test("stats equivalence: variant-shredded columns") {
    val t = TransactionalTable.create(spark, tmpDir("mw-variant"),
      StructType.fromDDL("id LONG, n INT, v VARIANT"), "id")
    t.setVariantShred("v", Seq(("a", "$.a", "bigint")))
    t.append((0 until 100).map(i => (i.toLong, i, s"""{"a": $i}""")).toDF("id", "n", "js")
      .select($"id", $"n", parse_json($"js").as("v")), batchId = 0)
    val f = t.snapshot.files.head
    val cols = t.fileFooterStats(Paths.get(f.path))._5
    assert(cols.size > 4, s"the shredded side-column is written: $cols")
    checkAll(t)
  }

  test("stats equivalence: an INT96 session records no timestamp stats") {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      val t = TransactionalTable.create(spark, tmpDir("mw-int96"), sch, "id")
      t.append(rowsOf(0 until 50, "a"), batchId = 0)
      assert(t.snapshot.files.forall(f => !f.stats.contains("ts") && f.stats.contains("n")))
      checkAll(t)
    } finally spark.conf.set(key, prev)
  }

  /** Files under `dir`, recursively. */
  private def filesUnder(dir: Path): Set[String] = {
    val s = Files.walk(dir)
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet }
    finally s.close()
  }

  test("a claim that fails after the write tasks: prior version, files are orphans") {
    val root = tmpDir("mw-crash") + "/t"
    val t = TransactionalTable.create(spark, root, sch, "id")
    t.append(rowsOf(0 until 100, "a"), batchId = 0)
    val v0 = t.currentVersion
    val dataDir = Paths.get(root, "data")
    val before = filesUnder(dataDir)
    t.commitIo = new CommitIO {
      def putIfAbsent(path: Path, bytes: Array[Byte]): Unit =
        throw new java.io.IOException("simulated: claim lost after the write tasks")
      def putAtomic(path: Path, bytes: Array[Byte]): Unit = PosixCommitIO.putAtomic(path, bytes)
      def read(path: Path): Array[Byte] = PosixCommitIO.read(path)
      def exists(path: Path): Boolean = PosixCommitIO.exists(path)
      def modifiedAtMs(path: Path): Long = PosixCommitIO.modifiedAtMs(path)
      def delete(path: Path): Unit = PosixCommitIO.delete(path)
      def list(dir: Path): Seq[Path] = PosixCommitIO.list(dir)
    }
    intercept[java.io.IOException] {
      t.merge(rowsOf(10 until 30, "b"), idKeys(0 until 5), batchId = 1, MergeMode.MergeOnRead)
    }
    val reopened = TransactionalTable.open(spark, root)
    assert(reopened.currentVersion === v0)
    assert(reopened.scan().count() === 100L)
    val written = filesUnder(dataDir) -- before
    assert(written.exists(p => p.contains("_deletes") && p.endsWith(".parquet")) &&
      written.exists(p => !p.contains("_deletes") && p.endsWith(".parquet")),
      s"both the delete and the data file were written: $written")
    assert(!written.exists(p => p.contains("_temporary") || p.endsWith("_SUCCESS")))
    assert(reopened.removeOrphanFiles(0L) >= written.count(_.endsWith(".parquet")))
    val after = filesUnder(dataDir)
    assert(written.exists(_.endsWith(".crc")) && before.exists(_.endsWith(".crc")),
      s"both the committed append and the orphaned attempt wrote checksum sidecars: $before")
    assert((after intersect written).isEmpty,
      "removeOrphanFiles(0) reclaims every written file and its sidecar")
    assert(before.subsetOf(after),
      s"the committed append's files and sidecars survive: ${before -- after}")
    assert(reopened.scan().count() === 100L)
  }

  test("a failed delete-file write leaves no readable file in its directory") {
    val root = tmpDir("mw-abort") + "/t"
    val t = TransactionalTable.create(spark, root, sch, "id")
    t.append(rowsOf(0 until 50, "a"), batchId = 0)
    val boom = udf((id: Long) => if (id == 13L) throw new IllegalStateException("boom") else id)
    val before = filesUnder(Paths.get(root, "data"))
    intercept[Exception] {
      t.merge(rowsOf(0 until 20, "b").coalesce(1).withColumn("id", boom($"id")),
        idKeys(Nil), batchId = 1, MergeMode.MergeOnRead)
    }
    assert(TransactionalTable.open(spark, root).currentVersion === t.currentVersion)
    val left = filesUnder(Paths.get(root, "data")) -- before
    assert(!left.exists(p => p.contains("_deletes") && p.endsWith(".parquet")),
      s"the aborted task deleted its file: $left")
  }

  /** Descriptions of the Spark jobs `body` starts (its own job group only). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"mw-jobs-${System.nanoTime()}"
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

  test("job budget: a small MOR merge runs 2 jobs, a CoW append-only merge 2") {
    import graft.cdc.Cdc
    val t = TransactionalTable.create(spark, tmpDir("mw-budget"), Cdc.tableSchema,
      Cdc.PrimaryKey, Some(Cdc.PartitionColumn))
    graft.stream.CdcPipeline.replayLines(spark, t, graft.fixtures.CdcFixtures.scenario1Lines,
      batchId = 0)
    // the gate: the deduplicated batch is materialized before the merge, as
    // the CDC path does
    val deduped = Cdc.latestPerKey(Cdc.flatten(Cdc.parse(
      graft.fixtures.CdcFixtures.scenario2Lines.toDS()))).persist()
    deduped.count()
    val mor = jobsDuring(t.merge(Cdc.projectToTable(Cdc.upserts(deduped)),
      Cdc.deletes(deduped).select(col(Cdc.PrimaryKey)), batchId = 1, MergeMode.MergeOnRead))
    assert(mor.size === 2, mor)
    assert(!mor.exists(_.startsWith("commit:pk-pass")), mor)
    deduped.unpersist()

    val cow = TransactionalTable.create(spark, tmpDir("mw-budget-cow"), sch, "id")
    cow.append(rowsOf(0 until 100, "a"), batchId = 0)
    // one input partition: the key collect of `merge:plan-keys` is one job
    val fresh = rowsOf(1000 until 1100, "c").coalesce(1).persist()
    fresh.count()
    val jobs = jobsDuring(cow.merge(fresh, idKeys(Nil), batchId = 1))
    assert(jobs.count(_.startsWith("merge:plan-keys")) === 1, jobs)
    assert(jobs.count(_.startsWith("commit:write")) === 1, jobs)
    assert(jobs.size === 2, jobs)
    fresh.unpersist()
    assert(cow.scan().count() === 200L)
  }

  test("a commit's version stamp does not make its write compile new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = TransactionalTable.create(spark, tmpDir("mw-stamp"), sch, "id")
    // not a local relation: the stamp reaches whole-stage generated code
    val rows = spark.range(50).select($"id", lit("x").as("v"), $"id".cast("int").as("n"),
      lit(1.toShort).as("s"), timestamp_seconds($"id").as("ts"),
      date_from_unix_date($"id".cast("int")).as("d"))
    t.append(rows, batchId = 0)
    val compiled = (1 to 2).map { b =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      t.append(rows, batchId = b)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiled === Seq(0L, 0L))
    val stamps = spark.read.parquet(t.snapshot.files.map(_.path): _*)
      .select("_seq").distinct().as[Long].collect().sorted.toSeq
    assert(stamps.size === 3 && stamps === stamps.sorted.distinct, stamps)
  }

  test("analyzing a merge-on-read SELECT by key runs no Spark job") {
    val w = tmpDir("mw-sql")
    spark.conf.set("spark.sql.catalog.graft_mw", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mw.warehouse", w)
    Files.createDirectories(Paths.get(s"$w/db"))
    val t = TransactionalTable.create(spark, s"$w/db/t", sch, "id")
    t.append(rowsOf(0 until 100, "a"), batchId = 0)
    t.merge(rowsOf(10 until 20, "b"), idKeys(0 until 5), batchId = 1, MergeMode.MergeOnRead)
    t.merge(rowsOf(30 until 40, "c"), idKeys(50 until 55), batchId = 2,
      MergeMode.MergeOnReadPositional)
    assert(t.snapshot.deletes.map(_.kind).toSet === Set(DeleteFile.Equality, DeleteFile.Position))
    val q = "SELECT v FROM graft_mw.db.t WHERE id = 12"
    val jobs = jobsDuring(spark.sql(q).queryExecution.analyzed)
    assert(jobs.isEmpty, jobs)
    assert(spark.sql(q).as[String].collect().toSeq === Seq("b12"))
  }
}
