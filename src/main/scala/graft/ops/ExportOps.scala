package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.table.TransactionalTable

/**
 * Incremental training-data EXPORT (E184) — the publication step of the
 * corpus pipeline: the docs added or re-written between two table versions
 * (the `changes(v0, v1)` insert images) are deterministically shuffled
 * into shards, packed into fixed-capacity token bins per shard, and
 * written as one immutable parquet export directory, with a FENCED
 * manifest row recording the interval. Delete images publish as a
 * TOMBSTONE list alongside (a doc retracted after an earlier export
 * cannot be un-published from immutable shards; trainers subtract
 * tombstones at read time — the standard additive-dataset contract).
 *
 * Scale shape: shard = md5(id) mod nShards is a map-only column; ordering
 * and the running token sum are windows PARTITIONED BY shard (one hash
 * exchange, nShards independent local sorts — 100 TB into 10k shards is
 * 10k ~10 GB sorts, never a global ORDER BY); the parquet write is
 * partitioned by shard so a trainer addresses any (shard, bin) directly.
 *
 * Idempotence: the manifest append is fenced on `toVersion` — a re-run of
 * the same interval recomputes the identical assignment (md5 order, no
 * randomness) and overwrites the same directory with the same bytes, and
 * the manifest does not double-append. Crash mid-write retries into the
 * same overwrite.
 */
object ExportOps {

  final case class ExportResult(assignment: DataFrame, tombstones: DataFrame,
      exported: Boolean, dir: String)

  val ManifestSchemaDdl: String =
    "to_v LONG, from_v LONG, n_docs LONG, n_tokens LONG, n_tombstones LONG, " +
      "n_shards INT, capacity LONG"

  private val ExportWriter = "export"

  /** The manifest engine table under `exportRoot/_manifest` (created on
    * first use; PK = to_v — one row per published interval end). */
  def manifest(spark: SparkSession, exportRoot: String): TransactionalTable = {
    val root = s"$exportRoot/_manifest"
    if (TransactionalTable.exists(root)) TransactionalTable.open(spark, root)
    else TransactionalTable.create(spark, root,
      StructType.fromDDL(ManifestSchemaDdl), "to_v", None)
  }

  /** Publish everything the manifest has not seen yet: the interval runs
    * from the manifest's export fence (the last published `to_v`; 0 on a
    * virgin root — the first call publishes the whole corpus) to the
    * corpus head. An empty interval returns without touching disk — the
    * idempotent shape a streaming pipeline calls once per micro-batch
    * ([[graft.stream.CorpusPipeline]] `exportEvery`): replayed batches and
    * crash-skipped publications absorb into the next interval. */
  def exportLatest(corpus: TransactionalTable, exportRoot: String,
      nShards: Int, capacity: Long,
      idCol: String = "doc_id", textCol: String = "text"): ExportResult = {
    val spark = corpus.spark
    val m = manifest(spark, exportRoot)
    val from = math.max(0L, m.snapshot.writerFences.getOrElse(ExportWriter, 0L))
    val to = corpus.currentVersion
    if (to <= from) {
      import spark.implicits._
      ExportResult(spark.emptyDataset[Long].toDF(idCol),
        spark.emptyDataset[Long].toDF(idCol), exported = false,
        dir = s"$exportRoot/exp_${from}_$from")
    } else exportDelta(corpus, exportRoot, from, to, nShards, capacity,
      idCol, textCol)
  }

  def exportDelta(corpus: TransactionalTable, exportRoot: String,
      fromVersion: Long, toVersion: Long, nShards: Int, capacity: Long,
      idCol: String = "doc_id", textCol: String = "text",
      /** Row size for bin packing. None = dispatch on the PAYLOAD TYPE:
        * whitespace token count for STRING text, payload BYTES for a
        * BINARY media corpus (E192) — the r16 fix for the silent trap
        * where a media corpus published through the default token rule
        * got string-cast garbage sizes. Pass Some(...) to override
        * (e.g. frame counts). */
      sizeOf: Option[Column => Column] = None)
      : ExportResult = {
    require(nShards > 0 && capacity > 0, "nShards and capacity must be positive")
    val size0: Column => Column = sizeOf.getOrElse {
      corpus.schema(textCol).dataType match {
        case org.apache.spark.sql.types.BinaryType =>
          (c: Column) => length(c).cast("long")
        case _ => (c: Column) => size(TextOps.tokens(c)).cast("long")
      }
    }
    val spark = corpus.spark
    val m = manifest(spark, exportRoot)
    // stamp the export's column/payload contract on first use (E202): a
    // LATER session's pack / readCorpus / CALL export_pack resolves the id
    // column, payload column and payload TYPE (STRING text vs BINARY
    // media) from the manifest instead of trusting caller defaults — a
    // byte-budget media export packs with the same call as a text corpus
    if (m.customMeta("export.payload.type").isEmpty) {
      m.setCustomMeta("export.id.col", idCol)
      m.setCustomMeta("export.payload.col", textCol)
      m.setCustomMeta("export.payload.type",
        corpus.schema(textCol).dataType.sql)
    }
    val delta = corpus.changes(fromVersion, toVersion)
    val inserts = delta.where(col("_change_type") === "insert").drop("_change_type")
    val tombs = delta.where(col("_change_type") === "delete")
      .select(col(idCol)).distinct()
      // an id re-inserted in the SAME interval is alive, not tombstoned
      .join(inserts.select(col(idCol)), Seq(idCol), "left_anti")
    val toks = inserts.select(col(idCol), col(textCol),
      size0(col(textCol)).cast("long").as("n_tokens"))
    // deterministic shard + in-shard position (md5 order), then the
    // per-shard running token sum cuts capacity-sized bins — both windows
    // share the shard partitioning: ONE exchange end to end
    val sharded = SequenceOps.globalShuffle(toks, idCol, nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assignment = sharded
      .withColumn("_c", sum(col("n_tokens")).over(w))
      .withColumn("bin", ((col("_c") - col("n_tokens")) / capacity).cast("long"))
      .drop("_c")
      .select(col("shard"), col("bin"), col("pos"), col(idCol),
        col("n_tokens"), col(textCol))
    val dir = s"$exportRoot/exp_${fromVersion}_$toVersion"
    val fenced = m.snapshot.writerFences.getOrElse(ExportWriter, -1L) >= toVersion
    if (!fenced) {
      assignment.write.mode("overwrite").partitionBy("shard").parquet(dir)
      tombs.write.mode("overwrite").parquet(s"$dir/_tombstones")
      // manifest stats from the PUBLISHED parquet (reads only n_tokens),
      // not a second computation of the assignment plan. The schema is
      // passed EXPLICITLY: a deletes-only interval publishes an empty data
      // dir (tombstones only), and schema inference over zero files throws —
      // the explicit-schema read returns 0 rows and the manifest row still
      // lands with n_docs = 0 (ADVICE r15).
      val stats = spark.read.schema(assignment.schema).parquet(dir).agg(
        count(lit(1)).as("n_docs"), coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
        .collect()(0)
      val row = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          toVersion, fromVersion, stats.getLong(0), stats.getLong(1),
          tombs.count(), nShards, capacity)),
        StructType.fromDDL(ManifestSchemaDdl))
      m.append(row, batchId = toVersion, writerId = Some(ExportWriter))
    }
    ExportResult(assignment, tombs, exported = !fenced, dir = dir)
  }

  private def dirOf(exportRoot: String, fromV: Long, toV: Long): String =
    s"$exportRoot/exp_${fromV}_$toV"

  /** The consumer-ack registry as an ENGINE TABLE under
    * `exportRoot/_consumers` (PK = consumer): ack writes ride the table's
    * optimistic commit protocol, so two orchestrator PROCESSES acking
    * concurrently serialize through commit claims instead of losing a
    * registration to a last-writer-wins metadata rewrite (review r17 —
    * the watermark invariant must not rest on a non-CAS primitive). */
  private def consumersTable(spark: SparkSession,
      exportRoot: String): TransactionalTable = {
    val root = s"$exportRoot/_consumers"
    if (TransactionalTable.exists(root)) {
      // pre-r19 registries gain the history bound on first open (a no-op
      // once the key exists, including an operator's explicit off)
      val t = TransactionalTable.open(spark, root)
      t.defaultSnapshotExpiry(keepLast = 8)
      t
    }
    else try {
      val t = TransactionalTable.create(spark, root,
        StructType.fromDDL("consumer STRING, acked_to LONG"), "consumer", None)
      // a long-lived stream acks EVERY interval — one merge commit each —
      // so the registry's snapshot history grows without bound unless it
      // expires at cadence (r19 — review missing #5). Fences survive any
      // expiry by construction (inherited into every newer manifest), so
      // ack monotonicity and dropConsumer replay protection are unaffected.
      t.setSnapshotExpiry(keepLast = 8)
      t
    }
    catch {
      // two consumers registering on a VIRGIN root race the table creation
      // (exists→create is check-then-act across processes); every creator
      // writes the identical schema/PK meta, so the loser — whatever stage
      // its create died at (meta tmp collision, v0 claim, exists guard) —
      // opens the winner's table and proceeds. The open itself can race the
      // winner's still-in-flight v0 commit: retry briefly until the pointer
      // lands (bounded — the winner's create is a two-file local write)
      case e: Exception =>
        var opened: TransactionalTable = null
        var i = 0
        var lastOpen: Throwable = null
        while (opened == null && i < 50) {
          // the handle must be USABLE, not just constructible: open() can
          // succeed off the winner's table meta while its v0 commit has
          // not yet published the version pointer — probe it before
          // handing the handle out
          try { val t = TransactionalTable.open(spark, root)
                t.currentVersion; opened = t }
          catch { case t: Exception => lastOpen = t; Thread.sleep(20); i += 1 }
        }
        if (opened == null) {
          // not a creation race after all (e.g. a real IO failure): the
          // ORIGINAL create error is the root cause — surface it, with
          // the open-retry failure attached instead of burying it
          if (lastOpen != null) e.addSuppressed(lastOpen)
          throw e
        }
        opened
    }
  }

  /** Registered consumers' acknowledged positions: consumerId → the last
    * interval end (`to_v`) that consumer has fully consumed. */
  def consumerAcks(spark: SparkSession, exportRoot: String): Map[String, Long] =
    if (!TransactionalTable.exists(s"$exportRoot/_consumers")) Map.empty
    else consumersTable(spark, exportRoot).scan().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Record consumer progress (ADVICE r16 — the enforcement half of the
    * pack contract): `consumerId` has fully consumed every interval with
    * `to_v` ≤ `toV`. [[pack]] never folds an interval PAST the minimum
    * registered ack — the low-watermark that turns the doc claim
    * "pack consolidates already-consumed intervals" into a checked
    * invariant instead of a hope. Registration IS the first ack (a
    * consumer that has consumed nothing acks 0 and pins packing until it
    * progresses). Monotone AT THE WRITE (ADVICE r17 — the old shape was
    * check-then-act: two processes acking the same consumer could both
    * pass the pre-read and commit out of order, regressing `acked_to`
    * and unpinning [[pack]] under a lagging reader): the read-and-merge
    * runs under a serializable-validation loop — each attempt pins the
    * table version it read the stored ack at ([[TransactionalTable
    * .mergeAdhoc]]'s `expectedVersion` gate), so a concurrent commit
    * forces a re-read and the committed value can only be
    * greatest(existing, new). A stale or replayed ack (≤ the committed
    * one) no-ops. Unregistered consumers keep the old behavior: pack may
    * fold under them, and [[readInterval]] fails with the snapshot-then-
    * tail pointer instead of a raw missing-file error. */
  def ackConsumed(spark: SparkSession, exportRoot: String,
      consumerId: String, toV: Long): Unit = {
    require(consumerId.nonEmpty, "consumer id must be non-empty")
    require(toV >= 0, s"acked version must be >= 0, got $toV")
    val t = consumersTable(spark, exportRoot)
    import spark.implicits._
    var attempts = 0
    while (true) {
      val v0 = t.currentVersion
      val stored = t.scanAt(v0).where(col("consumer") === consumerId)
        .collect().headOption.map(_.getLong(1))
      if (stored.exists(_ >= toV)) return // monotone: never move backwards
      try {
        t.mergeAdhoc(Seq((consumerId, toV)).toDF("consumer", "acked_to"),
          spark.emptyDataset[String].toDF("consumer"),
          expectedVersion = Some(v0))
        return
      } catch {
        // a concurrent ack landed between our read and our commit — the
        // version gate rejected the write (CommitConflict), or the commit
        // claim itself lost every internal retry under heavy contention
        // (ConcurrentCommit): both mean "the table advanced"; re-read and
        // re-decide (the loop converges: each rejection means progress)
        case e @ (_: graft.table.CommitConflictException |
                  _: graft.table.ConcurrentCommitException) =>
          attempts += 1
          if (attempts > 20) throw e
      }
    }
  }

  /** Deregister a consumer — a decommissioned trainer must not pin the
    * pack watermark forever. */
  def dropConsumer(spark: SparkSession, exportRoot: String,
      consumerId: String): Unit = {
    if (!TransactionalTable.exists(s"$exportRoot/_consumers")) return
    val t = consumersTable(spark, exportRoot)
    import spark.implicits._
    val writer = s"ack-$consumerId"
    val bid = t.snapshot.writerFences.getOrElse(writer, -1L) + 1
    t.merge(spark.emptyDataset[(String, Long)].toDF("consumer", "acked_to"),
      Seq(consumerId).toDF("consumer"), batchId = bid, writerId = Some(writer))
  }

  /** Snapshot-then-tail START-UP for a consumer born into an EXISTING root
    * (the contract [[streamIntervals]]' scaladoc states, packaged so it
    * cannot be mis-assembled): registers `consumerId` at ack 0 — which
    * pins [[pack]] until the consumer advances — and returns (the full
    * reader-contract corpus, the manifest version to tail from). The
    * caller materializes the snapshot, THEN acks the snapshot head
    * ([[ackConsumed]] with the max `to_v` it consumed) to let packing
    * resume. An interval published concurrently with the snapshot may
    * appear in both the snapshot and the tail (at-least-once at the
    * seam); interval rows carry their (from_v, to_v) keys, so
    * re-application is detectable and idempotent.
    *
    * The pin is EXACTLY-ONCE against an in-flight pack (r19 — enforced,
    * closing ADVICE r17's documented at-most-once): [[pack]] re-reads the
    * consumer registry AFTER its manifest commit and DEFERS deleting the
    * folded interval dirs whenever any registered ack sits below the fold
    * head — so a registration that lands anywhere in pack's window keeps
    * every dir its manifest read can reference on disk until the consumer
    * acks past them ([[pack]]'s reclaim sweep). The ordering argument:
    * this method commits the ack BEFORE reading the manifest, so either
    * pack's post-commit registry read observes the ack (deletion defers),
    * or the ack committed after that read — in which case the manifest
    * read here happens later still and resolves to the POST-pack
    * consolidated dirs. Both paths materialize row-identical corpora.
    * One caveat remains, (b) of ADVICE r17: for an ALREADY-REGISTERED
    * consumer the ack-0 registration is a monotone no-op — the
    * previously-acked prefix stays foldable, so re-registration does NOT
    * re-pin it (re-reading a years-old snapshot plan after acking past it
    * is outside the contract, exactly like snapshot expiry). */
  def snapshotForConsumer(spark: SparkSession, exportRoot: String,
      consumerId: String): (DataFrame, Long) = {
    val m = manifest(spark, exportRoot)
    ackConsumed(spark, exportRoot, consumerId, 0L)
    val v = m.currentVersion
    (readCorpus(spark, exportRoot), v)
  }

  /** One manifest row per published interval, as a small case class —
    * intervals are bounded ([[pack]] exists to keep them so), so the
    * driver-side collect is the manifest's own size. */
  final case class Interval(toV: Long, fromV: Long, nDocs: Long, nTokens: Long,
      nTombstones: Long, nShards: Int, capacity: Long)

  def intervals(spark: SparkSession, exportRoot: String): Seq[Interval] =
    manifest(spark, exportRoot).scan().orderBy(col("to_v")).collect().map(r =>
      Interval(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(6))).toSeq

  /**
   * The READER CONTRACT over a multi-interval export root (what a trainer
   * consumes): for every doc, the copy from its LATEST publishing interval
   * wins, and a tombstone from a LATER interval than the last publish
   * removes the doc entirely. One union over the manifest's dirs (zero-doc
   * dirs skipped off manifest stats — a deletes-only interval has no data
   * files to read), one per-doc max-interval window, one tombstone
   * anti-join. Returns the published rows
   * (shard, bin, pos, doc_id, n_tokens, <textCol>).
   */
  /** The export root's stamped (idCol, payloadCol, payloadType) contract,
    * falling back to the given defaults for roots published before the
    * stamp existed. */
  private def contract(spark: SparkSession, exportRoot: String,
      idCol: String, textCol: String, textType: String): (String, String, String) = {
    val m = manifest(spark, exportRoot)
    (m.customMeta("export.id.col").getOrElse(idCol),
      m.customMeta("export.payload.col").getOrElse(textCol),
      m.customMeta("export.payload.type").getOrElse(textType))
  }

  def readCorpus(spark: SparkSession, exportRoot: String,
      idCol: String = "doc_id", textCol: String = "text",
      /** Payload type: STRING for text corpora, BINARY for media exports
        * (the byte-budget shards of E196). The manifest's stamped contract
        * overrides all three defaults when present. */
      textType: String = "STRING"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (id, pc, pt) = contract(spark, exportRoot, idCol, textCol, textType)
    readCorpusAs(spark, exportRoot, id, pc, pt)
  }

  private def readCorpusAs(spark: SparkSession, exportRoot: String,
      idCol: String, textCol: String, textType: String,
      /** None = every published interval (the reader contract); Some =
        * a PREFIX of the interval chain ([[pack]]'s partial-fold read —
        * latest-wins and tombstones apply within the prefix only, which
        * is exactly what a prefix consolidation must materialize). */
      only: Option[Seq[Interval]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ivs = only.getOrElse(intervals(spark, exportRoot))
    val readSchema = StructType.fromDDL(
      s"shard INT, bin LONG, pos INT, $idCol LONG, n_tokens LONG, $textCol $textType")
    val empty = graft.util.Frames.empty(spark, readSchema.add("_to", "long"))
    val pubs = ivs.filter(_.nDocs > 0).map(iv =>
      spark.read.schema(readSchema).parquet(dirOf(exportRoot, iv.fromV, iv.toV))
        .select((readSchema.fieldNames.map(col) :+ lit(iv.toV).as("_to")).toSeq: _*))
      .foldLeft(empty)(_ unionByName _)
    val tombs = ivs.filter(_.nTombstones > 0).map(iv =>
      spark.read.schema(StructType.fromDDL(s"$idCol LONG"))
        .parquet(s"${dirOf(exportRoot, iv.fromV, iv.toV)}/_tombstones")
        .select(col(idCol), lit(iv.toV).as("_tto")))
      .reduceOption(_ unionByName _)
    val w = Window.partitionBy(col(idCol)).orderBy(col("_to").desc)
    val latest = pubs.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
    tombs.fold(latest.drop("_to")) { t =>
      val dead = t.groupBy(idCol).agg(max(col("_tto")).as("_tto"))
      latest.join(dead, Seq(idCol), "left")
        .where(col("_tto").isNull || col("_tto") < col("_to"))
        .drop("_to", "_tto")
    }
  }

  /**
   * STREAMING consumption of the publication chain (E212 — the trainer's
   * "tail -f", closing the loop the continuous-publication side opened):
   * [[streamIntervals]] is a checkpointed stream of MANIFEST rows — one
   * per published interval, exactly the [[Interval]] shape — served by the
   * engine's table streaming source over `exportRoot/_manifest`; interval
   * publications are pure appends (monotone to_v PK), so each micro-batch
   * carries exactly the newly published intervals and a restart resumes
   * from the checkpoint without re-delivering consumed ones. [[pack]]
   * commits are manifest REWRITES that consolidate already-consumed
   * intervals — `skipNonAppends` skips them whole by construction (nothing
   * new to train on in a pack).
   *
   * Start-up contract (ENFORCED since ADVICE r16, not just documented): a
   * consumer born into an existing root starts via [[snapshotForConsumer]]
   * — snapshot + registration + the manifest version to pass as
   * `startingVersion`; a consumer started WITH the root tails from 0 and
   * sees every interval exactly once. Registered consumers
   * ([[ackConsumed]]) pin the pack low-watermark, so their pending
   * interval dirs cannot be folded away; an unregistered consumer that
   * falls behind a pack gets [[readInterval]]'s descriptive failure
   * instead of a missing-file error.
   */
  def streamIntervals(spark: SparkSession, exportRoot: String,
      startingVersion: Option[Long] = Some(0L)): DataFrame = {
    manifest(spark, exportRoot) // materialize the table on a virgin root
    val b = spark.readStream.format("graft-table")
      .option("skipNonAppends", "true")
    startingVersion.fold(b)(v => b.option("startingVersion", v.toString))
      .load(s"$exportRoot/_manifest")
  }

  /** The immutable published payload of ONE interval (the per-row
    * companion of [[streamIntervals]]): (docs, tombstone ids). Docs are
    * empty for a deletes-only interval (its dir holds no data files — the
    * explicit schema makes that a 0-row read, not an inference error);
    * column names/types resolve from the manifest's stamped contract. */
  def readInterval(spark: SparkSession, exportRoot: String,
      fromV: Long, toV: Long,
      idCol: String = "doc_id", textCol: String = "text",
      textType: String = "STRING"): (DataFrame, DataFrame) = {
    val (id, pc, pt) = contract(spark, exportRoot, idCol, textCol, textType)
    val dir = dirOf(exportRoot, fromV, toV)
    // a lagging or fresh-from-0 UNREGISTERED consumer can hold an interval
    // row whose dir pack() has since folded away — fail with the start-up
    // contract instead of a raw missing-file error deep in the parquet
    // read. The guard is OFF the hot path (review r17): every published
    // interval's dir exists (even deletes-only publishes write the empty
    // partitioned dir), so the manifest scan runs only on the miss path.
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))) {
      if (!intervals(spark, exportRoot).exists(iv =>
          iv.fromV == fromV && iv.toV == toV))
        throw new IllegalStateException(
          s"export interval exp_${fromV}_$toV is no longer in the manifest — " +
            "it was consolidated by pack(). Register progress with " +
            "ExportOps.ackConsumed (pack never folds past the registered " +
            "low-watermark), or start via ExportOps.snapshotForConsumer and " +
            "tail streamIntervals from the returned manifest version")
      throw new IllegalStateException(
        s"export interval exp_${fromV}_$toV is in the manifest but its " +
          s"directory is missing ($dir) — the export root is corrupted or " +
          "was partially deleted out-of-band")
    }
    val readSchema = StructType.fromDDL(
      s"shard INT, bin LONG, pos INT, $id LONG, n_tokens LONG, $pc $pt")
    val docs = spark.read.schema(readSchema).parquet(dir)
    val tombs = spark.read.schema(StructType.fromDDL(s"$id LONG"))
      .parquet(s"$dir/_tombstones")
    (docs, tombs)
  }

  final case class PackResult(packed: Boolean, intervalsBefore: Long,
      nDocs: Long, dir: String)

  /** Writer-fence domain for [[pack]] commits (independent of the export
    * fence — packing must never advance what [[exportLatest]] publishes
    * next). */
  private val PackWriter = "export-pack"

  /**
   * SHARD COMPACTION for long-running continuous publication: fold every
   * published interval — bounded by the registered consumers' ack
   * low-watermark ([[ackConsumed]]; ADVICE r16), so a lagging trainer's
   * unconsumed interval dirs are never deleted out from under it — into
   * ONE consolidated export (the [[readCorpus]] materialization — latest
   * copy per doc, tombstones applied, scoped to the folded prefix) under
   * `exp_0_<maxToV>`, re-sharded deterministically from the STORED
   * n_tokens (no re-tokenization — byte-budget media exports keep their
   * sizes), then replace the manifest's rows with one consolidated row in
   * ONE fenced merge. Reader-visible ATOMICITY rides the manifest commit:
   * a reader derives dirs from manifest rows, the consolidated dir is a
   * fresh path written BEFORE the commit (crash → old manifest + intact
   * old dirs; the single-interval edge case overwrites its own dir with
   * identical rows), and the old dirs are removed only AFTER the commit —
   * and only once a POST-commit registry re-read shows no registered ack
   * below the fold head ([[reclaimFoldedDirs]], r19): a consumer whose
   * registration landed mid-pack keeps its reachable dirs on disk until
   * it acks past them, which upgrades [[snapshotForConsumer]]'s pin from
   * documented-at-most-once to exactly-once. A re-CALL at the same head
   * is fenced to a no-op (and still runs the reclaim sweep, so deferred
   * orphans clear once acks advance). Like snapshot expiry, a reader that
   * captured the OLD manifest before the pack must re-read it before
   * touching disk again.
   */
  def pack(spark: SparkSession, exportRoot: String,
      idCol: String = "doc_id", textCol: String = "text",
      textType: String = "STRING"): PackResult = {
    val m = manifest(spark, exportRoot)
    val (id, pc, pt) = contract(spark, exportRoot, idCol, textCol, textType)
    val all = intervals(spark, exportRoot)
    // consumer low-watermark (ADVICE r16): fold ONLY the prefix every
    // registered consumer has acknowledged — a lagging trainer's pending
    // interval dirs stay on disk until it acks past them. No registered
    // consumers = the whole chain is foldable (the pre-watermark contract).
    val watermark = consumerAcks(spark, exportRoot).values.minOption
    val ivs = watermark.fold(all)(w => all.filter(_.toV <= w))
    ExportTestHooks.afterWatermarkRead.foreach(f => f())
    if (ivs.size <= 1) {
      // nothing to fold — but a PREVIOUS pack may have deferred its dir
      // reclaim under a then-lagging consumer: sweep so orphans clear
      // once acks advance
      reclaimFoldedDirs(spark, exportRoot)
      return PackResult(packed = false, ivs.size.toLong,
        ivs.map(_.nDocs).sum, ivs.headOption.fold("")(iv =>
          dirOf(exportRoot, iv.fromV, iv.toV)))
    }
    val maxTo = ivs.map(_.toV).max
    val dir = dirOf(exportRoot, 0L, maxTo)
    if (m.snapshot.writerFences.getOrElse(PackWriter, -1L) >= maxTo) {
      reclaimFoldedDirs(spark, exportRoot)
      return PackResult(packed = false, ivs.size.toLong, ivs.map(_.nDocs).sum, dir)
    }
    val last = ivs.maxBy(_.toV)
    // latest-wins + tombstones within the foldable PREFIX only: an
    // unconsumed later interval keeps layering over the consolidated dir
    // through the reader contract, and its tombstones still apply (they
    // carry a later _to than the prefix's)
    val kept = readCorpusAs(spark, exportRoot, id, pc, pt,
        only = Some(ivs))
      .select(col(id), col(pc), col("n_tokens"))
    // same one-exchange shard/pos/bin pipeline as exportDelta, sized by the
    // stored token counts
    val sharded = SequenceOps.globalShuffle(kept, id, last.nShards)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val assignment = sharded
      .withColumn("_c", sum(col("n_tokens")).over(w))
      .withColumn("bin", ((col("_c") - col("n_tokens")) / last.capacity).cast("long"))
      .drop("_c")
      .select(col("shard"), col("bin"), col("pos"), col(id),
        col("n_tokens"), col(pc))
    assignment.write.mode("overwrite").partitionBy("shard").parquet(dir)
    val stats = spark.read.schema(assignment.schema).parquet(dir).agg(
      count(lit(1)).as("n_docs"), coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
      .collect()(0)
    // ONE fenced merge: the consolidated row upserts, every other interval
    // row deletes — the atomic flip readers see
    import spark.implicits._
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        maxTo, 0L, stats.getLong(0), stats.getLong(1), 0L,
        last.nShards, last.capacity)),
      StructType.fromDDL(ManifestSchemaDdl))
    m.merge(row, ivs.map(_.toV).filter(_ != maxTo).toDF("to_v"),
      batchId = maxTo, writerId = Some(PackWriter))
    // reclaim the folded dirs — GATED on a POST-COMMIT registry re-read
    // (r19, the exactly-once half of the snapshotForConsumer pin): a
    // consumer that registered at any point during this pack holds either
    // the old manifest (its dirs must stay on disk until it acks past
    // them) or the new one (safe). Deferral, not abort: the manifest flip
    // is harmless either way — the reader contract over old chain and
    // consolidated dir is row-identical — only the DELETE is destructive.
    reclaimFoldedDirs(spark, exportRoot,
      folded = ivs.map(iv => s"exp_${iv.fromV}_${iv.toV}").toSet
        - s"exp_0_$maxTo")
    PackResult(packed = true, ivs.size.toLong, stats.getLong(0), dir)
  }

  private val ExpDir = """exp_(\d+)_(\d+)""".r

  /** Age gate for deleting export dirs the sweeping process did not fold
    * itself: another pack's freshly WRITTEN consolidated dir is
    * indistinguishable from a crashed pack's orphan until its manifest
    * commit becomes visible, so unknown orphans must age past any
    * plausible write-to-commit window before they reclaim (an in-flight
    * parquet write keeps refreshing the dir mtime, so long writes extend
    * their own protection). Test-settable (specs shrink the window). */
  private[graft] var PackOrphanGraceMs: Long = 10L * 60 * 1000

  /** Delete export dirs the manifest no longer references, EXCEPT (a) any
    * dir a registered consumer could still be materializing from — an
    * orphan `exp_a_b` reclaims only when every registered ack is ≥ b (or
    * none is registered; an ack not yet visible here commits before its
    * owner reads the manifest, so that owner resolves the POST-pack dirs
    * and never touches the orphan) — and (b) YOUNG dirs this call did not
    * fold itself (see [[PackOrphanGraceMs]]; r19 review pass 1 — a stale
    * sweep racing a concurrent pack's write-then-commit must not delete
    * the new consolidated dir). Matching is by DIR NAME, never by
    * concatenated path string (a trailing-slash exportRoot must not make
    * every live dir look orphaned), and the LISTING runs before the
    * manifest/ack reads so anything written later is simply not a
    * candidate. Deferred orphans sweep on later [[pack]] calls once acks
    * advance; a crashed pack's never-committed consolidated dir reclaims
    * the same way after the grace. */
  private def reclaimFoldedDirs(spark: SparkSession, exportRoot: String,
      folded: Set[String] = Set.empty): Unit = {
    val listed = graft.util.Fs.listSeq(java.nio.file.Paths.get(exportRoot))
    val referenced = intervals(spark, exportRoot)
      .map(iv => s"exp_${iv.fromV}_${iv.toV}").toSet
    val acks = consumerAcks(spark, exportRoot).values
    val floor = if (acks.isEmpty) Long.MaxValue else acks.min
    val now = System.currentTimeMillis()
    listed.foreach { p =>
      p.getFileName.toString match {
        case n @ ExpDir(_, b)
            if !referenced.contains(n) && b.toLong <= floor &&
              java.nio.file.Files.isDirectory(p) =>
          val reclaimable = folded.contains(n) ||
            (try now - java.nio.file.Files.getLastModifiedTime(p).toMillis >
              PackOrphanGraceMs
            catch { case scala.util.control.NonFatal(_) => false })
          if (reclaimable) graft.util.Fs.deleteRecursively(p)
        case _ => ()
      }
    }
  }
}

/** Test-only injection for the pack/registration race (r19): runs right
  * after [[ExportOps.pack]] computes its foldable prefix from the consumer
  * watermark — the spec registers a consumer here to prove no interval dir
  * a registered consumer can reach is ever deleted. Never set outside
  * specs. */
private[graft] object ExportTestHooks {
  @volatile var afterWatermarkRead: Option[() => Unit] = None
}
