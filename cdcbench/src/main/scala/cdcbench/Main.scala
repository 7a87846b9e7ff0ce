package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger => StreamTrigger}

import graft.cdc.Cdc
import graft.fixtures.CdcFixtures
import graft.stream.CdcPipeline
import graft.table.{MergeMode, TransactionalTable}

/** Sizes of one workload. Every run of a workload uses the same sizes; only
  * the seed changes the records. After each batch, `liveLookups` lookups hit
  * keys the batch left live and one hits a key that is not live: one the
  * batch deleted on odd batches of workloads that delete, a never-inserted
  * key otherwise. `roundS` is the nominal length of one round on the
  * reference machine (see README); a run does `round(seconds / roundS)`
  * rounds, so every run of a workload does the same work. */
final case class Sizes(bootRows: Int, batchRows: Int, liveLookups: Int, roundS: Double,
    compactEvery: Int = 0, window: Int = 0, hot: Int = 0)

object Main {
  val Workloads: Map[String, Sizes] = Map(
    "cow_upsert" -> Sizes(bootRows = 20000, batchRows = 2000, liveLookups = 2, roundS = 2.6),
    "mor_serve" -> Sizes(bootRows = 20000, batchRows = 1000, liveLookups = 2, roundS = 6.2,
      compactEvery = 2, window = 5000, hot = 150),
    "stream_append_mv" -> Sizes(bootRows = 5000, batchRows = 1000, liveLookups = 2, roundS = 4.2))

  /** The replicas each run bootstraps; `setup_s` takes the median of their
    * bootstrap times. The first takes the warm-up, the last the timed phase. */
  val Replicas = Seq("warm", "spare", "timed")
  /** Warm-up rounds on a separate table before the timed phase. */
  val WarmupRounds = 1
  /** Rounds after which the full table is compared with the model mid-run. */
  val MidRunCheckRound = 2
  val Catalog = "bench"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, spansOut: Option[String])

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace == "1", need("work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("spans-out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config(s"spark.sql.catalog.$Catalog", "graft.sql.GraftCatalog")
      .config(s"spark.sql.catalog.$Catalog.warehouse", s"${a.work}/wh")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fixed CPU job (SHA-256 over 8 MiB, median of five) timed in ms. It is
    * printed with every run so that machine speed drift shows in the record;
    * it is not a metric. */
  def calibrationMs(): Double = {
    val buf = new Array[Byte](1 << 20)
    new SplittableRandom(1).nextBytes(buf)
    val xs = (1 to 5).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val t0 = System.nanoTime()
      (1 to 8).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(xs)
  }

  def main(argv: Array[String]): Unit = {
    val a = try parseArgs(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val golden = Model.selfCheck(CdcFixtures.scenario1Lines, CdcFixtures.scenario2Lines)
    if (golden.nonEmpty) {
      golden.foreach(g => System.err.println(s"model self-check failed: $g"))
      sys.exit(3)
    }
    val calibration = calibrationMs()
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val run = new Run(spark, a, sessionS)
    val out = try run.execute() finally spark.stop()
    println(Json.obj(Seq("info" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
      "calibration_ms" -> Json.num(calibration)) ++ out.info))))
    out.failures.take(5).foreach(f => System.err.println(s"check failed: $f"))
    val metrics = out.metrics.map { case (n, (v, u)) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq(
      "correct" -> (out.mismatches == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** What one run reports. `metrics` maps a name to (value, unit). */
final case class Outcome(attempted: Long, failed: Long, mismatches: Long, failures: Seq[String],
    metrics: Seq[(String, (Double, String))], info: Seq[(String, String)])

/** One invocation: set-up, warm-up, the timed phase and, with `--trace 1`,
  * the per-layer records. */
final class Run(spark: SparkSession, a: Main.Args, sessionS: Double) {
  import Main._
  private val sizes = Workloads(a.workload)
  private val mode = if (a.workload == "mor_serve") MergeMode.MergeOnRead else MergeMode.CopyOnWrite
  private val tracer: Option[Tracer] = if (a.trace) Some(new Tracer(spark)) else None
  private val pick = new SplittableRandom(a.seed * 31 + 7)
  private val wh = s"${a.work}/wh"

  private var attempted = 0L
  private var failed = 0L
  private var mismatches = 0L
  private val failures = ArrayBuffer.empty[String]

  /** Counts one checked operation; a mismatch is a failed operation. */
  private def checked(result: Option[String]): Unit = {
    attempted += 1
    result.foreach { f => failed += 1; mismatches += 1; failures += f }
  }

  private def span[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // Timed samples of the measured phase.
  private val batchS = ArrayBuffer.empty[Double]
  private val freshS = ArrayBuffer.empty[Double]
  private val queryS = ArrayBuffer.empty[Double]
  private val lookupS = ArrayBuffer.empty[Double]
  private var ingestRows = 0L
  private var ingestSeconds = 0.0

  // Per-layer samples of the traced run, by metric name.
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Set when the timed phase starts: set-up and warm-up are not recorded. */
  @volatile private var recording = false
  private var phaseStart = Double.MaxValue
  private def startRecording(): Unit = { recording = true; phaseStart = tracer.fold(0.0)(_.now) }
  private def rec(name: String, v: Double): Unit =
    if (tracer.isDefined && recording) layer.synchronized {
      layer.getOrElseUpdate(name, ArrayBuffer.empty) += v
    }

  private def tableRoot(name: String) = s"$wh/db/$name"
  private def qualified(name: String) = s"$Catalog.db.$name"
  private def aggSql(name: String) =
    s"SELECT event, SUM(amount) AS total, COUNT(*) AS n FROM ${qualified(name)} GROUP BY event"

  private def createTable(name: String): TransactionalTable =
    TransactionalTable.create(spark, tableRoot(name), Cdc.tableSchema, Cdc.PrimaryKey,
      Some(Cdc.PartitionColumn))

  private val batchDir = Files.createDirectories(Paths.get(a.work, "batches"))
  private var batchFiles = 0

  /** Lands a batch as a JSON-lines file, as DMS lands change files, and
    * returns it as the pipeline's input. Writing it is input generation and
    * stays outside every timed region; reading it is part of the batch. */
  private def landed(batch: Seq[Change]): String = {
    batchFiles += 1
    val p = batchDir.resolve(f"batch-$batchFiles%06d.jsonl")
    Files.write(p, batch.map(Gen.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** Bytes of every file under `root`, by path. */
  private def filesUnder(root: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  private def liveBytes(t: TransactionalTable): Long = {
    val s = t.snapshot
    s.files.map(_.bytes).sum + s.deletes.map(_.bytes).sum
  }

  // ---------------------------------------------------------------- batches

  /** Applies one batch. Untraced this is the engine's fused
    * `CdcPipeline.applyCdcBatch`; traced, the same kernel is run as its
    * public calls so that each gets a span. */
  private def applyBatch(t: TransactionalTable, file: String, records: Long, batchId: Long): Unit = {
    val envelopes = Cdc.parse(spark.read.textFile(file))
    tracer match {
      case None => CdcPipeline.applyCdcBatch(t, envelopes, batchId, mode)
      case Some(tr) => tracedApply(tr, t, envelopes, records, batchId)
    }
  }

  private def tracedApply(tr: Tracer, t: TransactionalTable, envelopes: DataFrame, records: Long,
      batchId: Long): Unit = {
    val before = t.snapshot
    val pk = col(Cdc.PrimaryKey)
    val bad = pk.isNull || col("_op").isNull
    val (deduped, kept) = tr.span("cdc.dedup") {
      val d = Cdc.latestPerKey(Cdc.flatten(envelopes)).persist()
      val st = d.agg(count(lit(1)), count(when(bad, 1))).head()
      (d, st.getLong(0) - st.getLong(1))
    }
    try {
      rec("cdc.keep_ratio", kept.toDouble / records)
      if (kept > 0) tr.span("table.merge") {
        val valid = deduped.filter(!bad)
        t.merge(Cdc.projectToTable(Cdc.upserts(valid)), Cdc.deletes(valid).select(pk), batchId, mode)
      }
    } finally deduped.unpersist()
    val after = t.snapshot
    val beforePaths = before.files.map(_.path).toSet ++ before.deletes.map(_.path)
    val afterPaths = after.files.map(_.path).toSet
    rec("table.files_rewritten", before.files.count(f => !afterPaths.contains(f.path)).toDouble)
    rec("table.bytes_written", (after.files.filterNot(f => beforePaths(f.path)).map(_.bytes).sum +
      after.deletes.filterNot(f => beforePaths(f.path)).map(_.bytes).sum).toDouble)
  }

  private def compact(t: TransactionalTable): Unit = {
    val before = t.snapshot.files.map(_.path).toSet
    span("table.compact")(t.compact())
    rec("table.compact_bytes_rewritten",
      t.snapshot.files.filterNot(f => before(f.path)).map(_.bytes).sum.toDouble)
  }

  /** The per-event aggregate through SQL, checked against the model. */
  private def query(name: String, t: TransactionalTable, model: Model, timedPhase: Boolean): Unit = {
    val df = spark.sql(aggSql(name))
    val (rows, s) = timed(span("sql.query")(df.collect().toSeq))
    if (timedPhase) {
      queryS += s
      checked(Check.aggregate(rows, model.aggregate))
      if (tracer.isDefined) {
        rec("sql.query_files_read", PlanFiles.count(df).toDouble)
        val snap = t.snapshot
        rec("table.data_files", snap.files.size.toDouble)
        rec("table.delete_files", snap.deletes.size.toDouble)
      }
    }
  }

  private def lookup(name: String, key: Long, model: Model, timedPhase: Boolean): Unit = {
    val df = spark.sql(s"SELECT * FROM ${qualified(name)} WHERE trans_id = $key")
    val (rows, s) = timed(span("sql.lookup")(df.collect().toSeq))
    if (timedPhase) {
      lookupS += s
      checked(Check.lookup(key, rows, model.rows.get(key)))
      if (tracer.isDefined) rec("sql.lookup_files_read", PlanFiles.count(df).toDouble)
    }
  }

  /** Point lookups after batch `batchId`, in the proportions of [[Sizes]]. */
  private def lookups(name: String, g: Gen, model: Model, kept: Seq[Long], removed: Seq[Long],
      batchId: Long, timedPhase: Boolean): Unit = {
    val live = Seq.fill(sizes.liveLookups)(kept(pick.nextInt(kept.size)))
    val notLive =
      if (batchId % 2 == 1 && removed.nonEmpty) removed(pick.nextInt(removed.size)) else g.missingKey()
    (live :+ notLive).foreach(k => lookup(name, k, model, timedPhase))
  }

  private def fullCheck(name: String, model: Model): Unit =
    checked(Check.table(spark.sql(s"SELECT * FROM ${qualified(name)}").collect().toSeq, model))

  /** One round of a batch workload: `compactEvery` batches (or one) with the
    * query and lookups after each, then the compaction if the workload has
    * one. */
  private def batchRound(name: String, t: TransactionalTable, g: Gen, model: Model,
      nextBatch: () => Vector[Change], batchIds: Iterator[Long], timedPhase: Boolean): Unit = {
    val perRound = math.max(1, sizes.compactEvery)
    (1 to perRound).foreach { _ =>
      val batch = nextBatch()
      val id = batchIds.next()
      val cpu0 = JvmClock.cpuSeconds
      val gc0 = JvmClock.gcSeconds
      val file = landed(batch)
      val (_, bs) = timed(span("batch")(applyBatch(t, file, batch.size, id)))
      if (timedPhase) {
        attempted += 1
        batchS += bs; ingestRows += batch.size; ingestSeconds += bs
        rec("jvm.cpu_s", JvmClock.cpuSeconds - cpu0)
        rec("jvm.gc_s", JvmClock.gcSeconds - gc0)
      }
      val (kept, removed) = model.fold(batch)
      val q0 = queryS.size
      query(name, t, model, timedPhase)
      if (timedPhase) freshS += bs + queryS(q0)
      lookups(name, g, model, kept, removed, id, timedPhase)
    }
    if (sizes.compactEvery > 0) {
      val (_, cs) = timed(compact(t))
      if (timedPhase) { attempted += 1; ingestSeconds += cs }
    }
  }

  private def nextBatchFn(g: Gen): () => Vector[Change] =
    if (a.workload == "mor_serve") () => Batches.recentHot(g, sizes.batchRows, sizes.window, sizes.hot)
    else () => Batches.uniform(g, sizes.batchRows)

  private def runBatchWorkload(): (Double, Model) = {
    val bootGen = new Gen(a.seed)
    val boot = Batches.inserts(bootGen, sizes.bootRows)
    val tables = mutable.LinkedHashMap.empty[String, TransactionalTable]
    val setups = Replicas.map { n =>
      val file = landed(boot)
      val (t, s) = timed { val t = createTable(n); applyBatch(t, file, boot.size, 0L); t }
      tables(n) = t
      s
    }
    setupSamples = setups
    val setupS = sessionS + Stats.median(setups)

    // Warm-up: the workload's own rounds on a separate table and generator.
    val warmGen = new Gen(a.seed ^ 0x5eedL)
    Batches.inserts(warmGen, sizes.bootRows) // same key space as the bootstrap
    val warmModel = new Model
    warmModel.fold(boot)
    val warmIds = Iterator.from(1).map(_.toLong)
    (1 to WarmupRounds).foreach { _ =>
      batchRound("warm", tables("warm"), warmGen, warmModel, nextBatchFn(warmGen), warmIds, timedPhase = false)
    }

    // Timed phase on a table loaded from the same bootstrap batch.
    val model = new Model
    model.fold(boot)
    val t = tables("timed")
    val before = filesUnder(t.root)
    startRecording()
    val ids = Iterator.from(1).map(_.toLong)
    timedRounds(() => batchRound("timed", t, bootGen, model, nextBatchFn(bootGen), ids, timedPhase = true),
      () => fullCheck("timed", model))
    fullCheck("timed", model)
    writtenBytes = newBytes(before, filesUnder(t.root))
    liveBytesAtEnd = liveBytes(t)
    (setupS, model)
  }

  /** The timed phase: `round(seconds / roundS)` whole rounds, with a
    * full-table check after round [[Main.MidRunCheckRound]]. */
  private def timedRounds(round: () => Unit, check: () => Unit): Unit = {
    val rounds = math.max(1, math.round(a.seconds / sizes.roundS).toInt)
    (1 to rounds).foreach { r =>
      round()
      if (r == MidRunCheckRound && r < rounds) check()
    }
  }

  private var setupSamples: Seq[Double] = Nil
  private var writtenBytes = 0L
  private var liveBytesAtEnd = 0L
  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, b) if !before.contains(p) => b }.sum

  // ----------------------------------------------------------------- stream

  private val Trigger = StreamTrigger.ProcessingTime("50 milliseconds")

  /** Starts the stream of one replica. Untraced this is `CdcPipeline.start`
    * with the view in `maintainViews`; traced, the same per-trigger body is
    * run as its public calls so that each gets a span. */
  private def startStream(name: String, t: TransactionalTable, in: String): StreamingQuery = {
    val ckpt = s"${a.work}/ckpt/$name"
    val view = qualified(s"mv_$name")
    tracer match {
      case None =>
        CdcPipeline.start(spark, in, t, ckpt, trigger = Trigger, maintainViews = Seq(view))
      case Some(tr) =>
        val fn: (Dataset[Row], Long) => Unit = (df, batchId) => tr.span("stream.batch") {
          tracedApply(tr, t, df.toDF(), if (batchId == 0) sizes.bootRows else sizes.batchRows, batchId)
          tr.span("sql.mv_refresh") {
            spark.sql(s"CALL $Catalog.system.refresh_mv('db.mv_$name')").collect()
          }
        }
        spark.readStream.schema(Cdc.envelopeSchema).json(in).writeStream
          .foreachBatch(fn).trigger(Trigger).option("checkpointLocation", ckpt).start()
    }
  }

  /** Moves a batch file into the stream's input directory atomically. */
  private def release(in: String, staging: String, batchId: Long, batch: Seq[Change]): Unit = {
    val tmp = Paths.get(staging, f"b$batchId%06d.jsonl")
    Files.write(tmp, batch.map(Gen.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(in, tmp.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (query id, batch id) of every trigger that committed input. The waiting
    * thread sleeps until a progress event arrives instead of polling the
    * query, so it takes no CPU from the trigger it waits for. */
  private val committed = mutable.Set.empty[(java.util.UUID, Long)]
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      committed.synchronized(committed.notifyAll())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) committed.synchronized {
        committed += (e.progress.id -> e.progress.batchId)
        committed.notifyAll()
      }
  }

  /** Waits until the query reports batch `id` committed; false on timeout. */
  private def awaitBatch(q: StreamingQuery, id: Long): Boolean = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    committed.synchronized {
      while (!committed.contains(q.id -> id)) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (q.exception.isDefined || left <= 0) return false
        committed.wait(math.min(left, 1000L))
      }
    }
    true
  }

  private def progressOf(q: StreamingQuery, id: Long) =
    q.recentProgress.find(p => p.batchId == id && p.numInputRows > 0).get

  private def runStreamWorkload(): (Double, Model) = {
    val bootGen = new Gen(a.seed)
    val boot = Batches.inserts(bootGen, sizes.bootRows)
    spark.streams.addListener(progressListener)
    val replicas = mutable.LinkedHashMap.empty[String, (TransactionalTable, StreamingQuery, String, String)]
    val setups = Replicas.map { n =>
      val in = s"${a.work}/in/$n"
      val staging = s"${a.work}/staging/$n"
      Files.createDirectories(Paths.get(in)); Files.createDirectories(Paths.get(staging))
      val (r, s) = timed {
        val t = createTable(n)
        spark.sql(s"CREATE MATERIALIZED VIEW ${qualified(s"mv_$n")} TBLPROPERTIES('pk'='event') AS " +
          s"SELECT event, SUM(amount) AS total, COUNT(*) AS n FROM ${qualified(n)} GROUP BY event")
        val q = startStream(n, t, in)
        release(in, staging, 0L, boot)
        require(awaitBatch(q, 0L), s"bootstrap of $n did not commit: ${q.exception}")
        (t, q, in, staging)
      }
      replicas(n) = r
      s
    }
    setupSamples = setups
    val setupS = sessionS + Stats.median(setups)
    replicas("spare")._2.stop()

    def round(n: String, g: Gen, model: Model, id: Long, timedPhase: Boolean): Unit = {
      val (t, q, in, staging) = replicas(n)
      val batch = Batches.inserts(g, sizes.batchRows)
      val cpu0 = JvmClock.cpuSeconds
      val gc0 = JvmClock.gcSeconds
      val (ok, fs) = timed(span("stream.fresh") { release(in, staging, id, batch); awaitBatch(q, id) })
      val (kept, removed) = model.fold(batch)
      if (timedPhase) {
        attempted += 1
        if (!ok) { failed += 1; failures += s"batch $id did not commit: ${q.exception}"; return }
        freshS += fs; ingestRows += batch.size; ingestSeconds += fs
        val p = progressOf(q, id)
        batchS += p.durationMs.get("addBatch").longValue / 1000.0
        rec("jvm.cpu_s", JvmClock.cpuSeconds - cpu0)
        rec("jvm.gc_s", JvmClock.gcSeconds - gc0)
        checked(Check.aggregate(spark.sql(s"SELECT event, total, n FROM ${qualified(s"mv_$n")}")
          .collect().toSeq, model.aggregate))
        tracer.foreach { tr =>
          val v = t.currentVersion
          tr.span("table.changes")(t.changes(v - 1, v).count())
        }
      }
      query(n, t, model, timedPhase)
      lookups(n, g, model, kept, removed, id, timedPhase)
    }

    // Warm-up: the bootstraps of the warm and spare replicas already ran the
    // trigger path, so only the read path is warmed here.
    val warmGen = new Gen(a.seed ^ 0x5eedL)
    val warmBoot = Batches.inserts(warmGen, sizes.bootRows)
    val warmModel = new Model
    warmModel.fold(boot)
    replicas("warm")._2.stop()
    query("warm", replicas("warm")._1, warmModel, timedPhase = false)
    lookups("warm", warmGen, warmModel, warmBoot.map(_.key), Nil, 0L, timedPhase = false)

    val model = new Model
    model.fold(boot)
    val (t, q, _, _) = replicas("timed")
    val before = filesUnder(t.root)
    startRecording()
    var id = 0L
    timedRounds(() => { id += 1; round("timed", bootGen, model, id, timedPhase = true) },
      () => fullCheck("timed", model))
    q.stop()
    q.awaitTermination()
    fullCheck("timed", model)
    writtenBytes = newBytes(before, filesUnder(t.root))
    liveBytesAtEnd = liveBytes(t)
    (setupS, model)
  }

  // ---------------------------------------------------------------- results

  def execute(): Outcome = {
    val (setupS, model) =
      if (a.workload == "stream_append_mv") runStreamWorkload() else runBatchWorkload()
    def half(xs: Seq[Double], first: Boolean): Double = {
      val h = xs.size / 2
      if (h == 0) Double.NaN else Stats.median(if (first) xs.take(h) else xs.drop(xs.size - h))
    }
    val info = Seq(
      "samples" -> Json.obj(Seq("batches" -> batchS.size.toString, "queries" -> queryS.size.toString,
        "lookups" -> lookupS.size.toString)),
      "halves" -> Json.obj(Seq(
        "batch_s_p50" -> Json.arr(Seq(Json.num(half(batchS.toSeq, first = true)), Json.num(half(batchS.toSeq, first = false)))),
        "fresh_s_p50" -> Json.arr(Seq(Json.num(half(freshS.toSeq, first = true)), Json.num(half(freshS.toSeq, first = false)))))),
      "batch_s" -> Json.arr(batchS.toSeq.map(Json.num)),
      "query_s" -> Json.arr(queryS.toSeq.map(Json.num)),
      "lookup_s" -> Json.arr(lookupS.toSeq.map(Json.num)),
      "live_rows" -> model.rows.size.toString,
      "session_s" -> Json.num(sessionS),
      "bootstrap_s" -> Json.arr(setupSamples.map(Json.num)))
    val metrics =
      if (!a.trace) Seq(
        "setup_s" -> (setupS, "s"),
        "ingest_rows_per_s" -> (ingestRows / ingestSeconds, "rows/s"),
        "batch_s_p50" -> (Stats.median(batchS.toSeq), "s"),
        "fresh_s_p50" -> (Stats.median(freshS.toSeq), "s"),
        "query_s_p50" -> (Stats.median(queryS.toSeq), "s"),
        "lookup_s_p50" -> (Stats.median(lookupS.toSeq), "s"),
        "live_bytes_per_row" -> (liveBytesAtEnd.toDouble / model.rows.size, "B/row"),
        "written_bytes_per_change" -> (writtenBytes.toDouble / ingestRows, "B/change"))
      else {
        val tr = tracer.get
        tr.close()
        a.spansOut.foreach(p => Layers.writeSpans(tr, p))
        Layers.report(tr, phaseStart, layer.toMap.map { case (k, v) => k -> v.toSeq }, batchS.toSeq, freshS.toSeq)
      }
    Outcome(attempted, failed, mismatches, failures.toSeq, metrics, info)
  }
}
