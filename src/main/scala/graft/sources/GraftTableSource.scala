package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.TransactionalTable

/**
 * Streaming reads FROM a transactional table (Iceberg's Spark streaming-read
 * parity — the consumption side of the MERGE sink):
 *
 *   spark.readStream.format("graft-table")
 *     .option("path", tableRoot)
 *     [.option("startingVersion", 0)]        // default: the version at start
 *     [.option("skipNonAppends", true)]      // default: fail on rewrites
 *     [.option("mode", "cdc")]               // changelog rows, not appends
 *     .load()
 *
 * A micro-batch source whose OFFSETS ARE TABLE VERSIONS: each micro-batch is
 * exactly the set of data files appended by the commits in (start, end] —
 * planning is manifest-only, and the per-batch scan delegates to Spark's own
 * vectorized Parquet batch over just those files, so a consumer pays for the
 * churn, never the table. Streaming semantics are APPEND-ONLY, like
 * Iceberg's: a commit that removes or rewrites files (CoW merge, compaction)
 * or adds delete files (MOR merge) cannot be represented as emitted rows —
 * the stream fails loudly by default, or skips such commits whole when
 * `skipNonAppends=true` (Iceberg's streaming-skip-overwrite-snapshots).
 * Restart resumes from the checkpointed version offset; replays are exact
 * because manifests and data files are immutable.
 *
 * CHANGELOG MODE (`option("mode", "cdc")` — Delta CDF / Iceberg
 * changelog-scan parity, the streamed form of `TransactionalTable.changes`):
 * each micro-batch emits the interval's NET row-level diff as the table
 * schema plus `_change_type` ('insert' | 'delete') — an update is the
 * delete of the old image plus the insert of the new one, a compaction-only
 * interval diffs to zero rows, and rewrites/MOR deletes are first-class
 * instead of fail-or-skip. When the table has ROW LINEAGE enabled, every
 * diff row additionally carries `_row_id`/`_last_updated_seq`, so the
 * update pair shares ONE stable id (changesWithLineage's batch shape,
 * streamed). The per-batch diff is computed with the chunk-identity
 * machinery (O(churn) metadata + changed-file reads, never O(table)) and
 * spilled under the stream's checkpoint scratch so executor task retries
 * replay the exact batch; spills are dropped on offset commit.
 */
final class GraftTableSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-table"

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-table source requires .option(\"path\", tableRoot)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = TransactionalTable.open(SparkSession.active, rootOf(options))
    if (Option(options.get("mode")).contains("cdc"))
      GraftTableSource.cdcSchema(t.schema, t.rowLineageEnabled)
    else t.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftStreamTable(properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("graft-table source requires a path")), schema)

  /**
   * Streaming writes INTO the table — the production-side twin of the
   * streaming read (Iceberg `writeStream.format("iceberg")` parity):
   *
   *   df.writeStream.format("graft-table")
   *     .option("path", tableRoot)
   *     .outputMode("append" | "update")
   *     [.option("mode", "append" | "merge")]        // default per output mode
   *     [.option("mergeMode", "cow" | "mor" | "morpos" | "morvec")]
   *     [.option("deleteCol", "_deleted")]           // bool col routes deletes
   *     .option("checkpointLocation", ...)
   *     .start()
   *
   * Served through DataStreamWriter's v1 `StreamSinkProvider` path (the
   * provider's DSv2 table advertises no STREAMING_WRITE, so Spark falls back
   * here — the read capabilities of the same format are untouched). The
   * target table must already exist: schema and PK are table-level contracts,
   * like `INSERT INTO`. Exactly-once: each micro-batch commits with its
   * epoch id as the batchId replay fence, so a restarted query re-delivering
   * a committed epoch is a no-op — the same T4 idempotence the CDC
   * pipeline's foreachBatch merge uses, now behind a one-line sink API.
   */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val p = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val root = p.getOrElse("path",
      throw new IllegalArgumentException("graft-table sink requires .option(\"path\", tableRoot)"))
    require(TransactionalTable.exists(root),
      s"graft-table sink target does not exist: $root — create the table first " +
        "(schema and primary key are table-level contracts)")
    require(partitionColumns.isEmpty,
      "partitioning is fixed at table creation; drop partitionBy() on the writer")
    require(outputMode != OutputMode.Complete(),
      "graft-table sink supports Append (append) and Update (merge) output modes")
    val mode = p.getOrElse("mode",
      if (outputMode == OutputMode.Update()) "merge" else "append")
    require(mode == "append" || mode == "merge", s"unknown sink mode '$mode'")
    val mergeMode = p.getOrElse("mergemode", "cow") match {
      case "cow" => graft.table.MergeMode.CopyOnWrite
      case "mor" => graft.table.MergeMode.MergeOnRead
      case "morpos" => graft.table.MergeMode.MergeOnReadPositional
      case "morvec" => graft.table.MergeMode.MergeOnReadVector
      case other => throw new IllegalArgumentException(
        s"unknown mergeMode '$other' (cow | mor | morpos | morvec)")
    }
    require(!(mode == "append" && p.contains("deletecol")),
      "deleteCol requires mode=merge (append mode has no delete routing)")
    new GraftTableSink(root, mode, mergeMode, p.get("deletecol"), p.get("writerid"))
  }
}

private[sources] object GraftTableSource {
  /** Changelog-mode read schema: the table's columns plus `_change_type`,
    * plus the lineage pair when the table assigns row lineage. */
  def cdcSchema(sch: StructType, lineage: Boolean): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val base = StructType(sch.fields :+ StructField("_change_type", StringType))
    if (!lineage) base
    else StructType(base.fields ++ Seq(
      StructField("_row_id", LongType), StructField("_last_updated_seq", LongType)))
  }
}

/** V1 streaming sink: one transactional engine commit per micro-batch. */
private[sources] final class GraftTableSink(root: String, mode: String,
    mergeMode: graft.table.MergeMode, deleteCol: Option[String],
    explicitWriterId: Option[String])
  extends org.apache.spark.sql.execution.streaming.Sink {

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions.{coalesce, col, lit, not}
  import org.apache.spark.sql.graftshim.GraftShims

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    // Fence DOMAIN = this query's id (stable across restarts of the same
    // checkpoint; fresh checkpoint → fresh domain), overridable via
    // option("writerId"). Independent streams writing one table each keep
    // their own exactly-once fence and never silently drop each other's
    // epochs — the multi-writer trap a single global fence would create.
    val writerId = Some(explicitWriterId
      .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse("graft-sink"))
    // Materialize the micro-batch ONCE: the engine merge makes several passes
    // (file pruning, the write, footer stats) and the streaming plan must not
    // be re-executed per pass.
    val rdd = GraftShims.toInternalRdd(data).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val df = GraftShims.internalCreateDataFrame(spark, rdd, data.schema)
      val t = TransactionalTable.open(spark, root)
      // Align to the table schema by name (casts cover widened tables fed by
      // narrow-typed streams); every table column must be present.
      def aligned(d: DataFrame): DataFrame = {
        val present = d.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        t.schema.fields.foreach(f => require(
          present.contains(f.name.toLowerCase(java.util.Locale.ROOT)),
          s"sink batch is missing table column '${f.name}'"))
        d.select(t.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
          .toIndexedSeq: _*)
      }
      mode match {
        case "append" =>
          t.append(aligned(df), batchId, writerId)
        case "merge" =>
          val (ups, dels) = deleteCol match {
            case Some(c) =>
              require(df.columns.exists(_.equalsIgnoreCase(c)),
                s"deleteCol '$c' not present in the stream")
              val isDel = coalesce(col(c).cast("boolean"), lit(false))
              (aligned(df.filter(not(isDel))),
                df.filter(isDel).select(t.pkCols.map(col): _*))
            case None =>
              (aligned(df),
                graft.util.Frames.empty(spark, StructType(t.pkCols.map(c => t.schema(c)))))
          }
          t.merge(ups, dels, batchId, mergeMode, writerId = writerId)
      }
    } finally { rdd.unpersist(); () }
  }
}

private[sources] final class GraftStreamTable(root: String, tableSchema: StructType)
  extends Table with SupportsRead {

  override def name(): String = s"graft-table `$root`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftTableMicroBatchStream(root, tableSchema,
          Option(options.get("startingVersion")).map(_.toLong),
          options.getBoolean("skipNonAppends", false),
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
          cdcMode = Option(options.get("mode")).contains("cdc"),
          checkpointLocation = checkpointLocation,
          startingTimestamp =
            Option(options.get("startingTimestamp")).map(GraftStreamTable.parseTs))
    }
}

private[sources] object GraftStreamTable {
  /** `startingTimestamp` option value: epoch millis, or an ISO-8601 instant
    * (`2026-08-14T12:00:00Z`). */
  def parseTs(v: String): Long =
    try {
      if (v.nonEmpty && v.forall(_.isDigit)) v.toLong
      else java.time.Instant.parse(v).toEpochMilli
    } catch {
      case e: Exception => throw new IllegalArgumentException(
        s"startingTimestamp must be epoch millis or an ISO-8601 instant " +
          s"(e.g. 2026-08-14T12:00:00Z), got '$v'", e)
    }
}

/** A committed table version as a streaming offset. */
final case class VersionOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

private[sources] final class GraftTableMicroBatchStream(
    root: String,
    tableSchema: StructType,
    startingVersion: Option[Long],
    skipNonAppends: Boolean,
    /** Per-trigger version cap (Iceberg's streaming rate-limit analogue):
      * bounds each catch-up micro-batch to N commits' worth of files — and
      * therefore bounds batch memory — when resuming against a deep backlog.
      * None = drain to the tip every trigger. */
    maxVersionsPerTrigger: Option[Long] = None,
    /** Changelog mode: micro-batches are the interval's net insert/delete
      * images (plus lineage ids when enabled), not appended files. */
    cdcMode: Boolean = false,
    checkpointLocation: String = "",
    /** Stream every commit made AT OR AFTER this timestamp, inclusive
      * (Delta `startingTimestamp` semantics — a consumer resuming from a
      * recorded commit time must not lose that commit). A timestamp
      * predating every retained commit clamps to the earliest RETAINED
      * version (post-expiry, version 0 may be gone — clamping to 0 would
      * die on the offset-expired check). Ignored when `startingVersion` is
      * set (the explicit version wins). */
    startingTimestamp: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  // Handles are cheap (manifests are read per call, pointer per
  // currentVersion); reopening per use also picks up schema evolution.
  private def table: TransactionalTable = TransactionalTable.open(spark, root)

  /** Trigger.AvailableNow (the backfill pattern: drain everything committed
    * at start, then stop): the tip version is pinned here and every
    * subsequent micro-batch is bounded by it — commits landing while the
    * drain runs wait for the next run, which resumes from the checkpoint. */
  @volatile private var availableTip: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTip = Some(table.currentVersion)

  private def tipNow: Long =
    availableTip.getOrElse(table.currentVersion)

  override def initialOffset(): Offset =
    VersionOffset(startingVersion
      .orElse(startingTimestamp.map { ts =>
        val t = table
        // Inclusive at-or-after: the offset is the last version committed
        // STRICTLY BEFORE ts (ms granularity ⇒ committedAt <= ts-1), so a
        // commit stamped exactly ts is delivered, not skipped.
        try t.versionAt(ts - 1)
        catch {
          case _: IllegalArgumentException if t.expiryFloor == 0L =>
            0L // predates the table; v0 is the empty CREATE — lossless
          case _: IllegalArgumentException =>
            // Early history expired: silently clamping would skip the
            // earliest retained snapshot's accumulated state (its increments
            // are gone). Fail with the recovery path instead (Delta errors
            // here too).
            throw new IllegalArgumentException(
              s"startingTimestamp $ts predates the earliest retained commit " +
                s"(expiry floor v${t.expiryFloor}); stream from an explicit " +
                s"version instead (startingVersion=${t.expiryFloor})")
        }
      })
      .getOrElse(table.currentVersion))

  override def latestOffset(): Offset = VersionOffset(tipNow)

  // Admission control: cap each micro-batch at maxVersionsPerTrigger commits.
  // The capped end is clamped to a RETAINED version: version numbering can
  // hole after a branch publish, and committing a hole as the checkpoint
  // offset would wedge the next resume (its baseline manifest never existed).
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val tip = tipNow
    val s = start.asInstanceOf[VersionOffset].version
    maxVersionsPerTrigger match {
      case Some(cap) if s + cap < tip =>
        val t = table
        val target = s + cap
        // greatest retained version in (s, target]; if that window is all
        // holes, jump to the first retained version above it (bounded by
        // tip, which is always retained) so the stream still progresses —
        // a hole-only batch would otherwise stall forever.
        val end = (target to (s + 1) by -1L).find(t.manifestExists)
          .orElse(((target + 1) to tip).find(t.manifestExists))
          .getOrElse(s)
        VersionOffset(end)
      case _ => VersionOffset(tip)
    }
  }

  // Metrics report the TRUE tip (not the AvailableNow-pinned one): during a
  // long backfill drain, progress/lag monitoring must see commits landing
  // behind the pin even though batch planning is bounded by it.
  override def reportLatestOffset(): Offset = VersionOffset(table.currentVersion)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.trim.toLong)

  /** The checkpoint location as a local path (Spark hands it over as a
    * `file:` URI; java.nio would treat that as a relative name). */
  private def cdcSpillRoot: java.nio.file.Path = {
    val p = if (checkpointLocation.startsWith("file:"))
      new java.net.URI(checkpointLocation).getPath
    else checkpointLocation
    java.nio.file.Paths.get(p, "_graft_cdc")
  }

  /** Offset commit: in cdc mode, drop the spilled diff batches whose end
    * version is consumed — the checkpoint scratch stays bounded by in-flight
    * batches, not stream lifetime. */
  override def commit(end: Offset): Unit = if (cdcMode) {
    val e = end.asInstanceOf[VersionOffset].version
    val dir = cdcSpillRoot
    if (java.nio.file.Files.isDirectory(dir)) {
      graft.util.Fs.listSeq(dir).foreach { p =>
        // spill dirs are "<s>_<e>"; crashed writes leave "<s>_<e>.tmpN"
        p.getFileName.toString.split("_") match {
          case Array(_, hi) if scala.util.Try(hi.split("\\.")(0).toLong)
              .toOption.exists(_ <= e) =>
            graft.util.Fs.deleteRecursively(p)
          case _ => ()
        }
      }
    }
  }
  override def stop(): Unit = ()

  /** The inner per-interval batch (built in planInputPartitions, whose
    * factory createReaderFactory then hands out — Spark drives the two calls
    * per micro-batch in that order on one thread). */
  private var currentBatch: Batch = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val t = table
    val (s, e) = (start.asInstanceOf[VersionOffset].version,
      end.asInstanceOf[VersionOffset].version)
    // Versions in (s, e] — numbering may hole after a branch publish. The
    // baseline (consumed-through) version s may itself be missing in two
    // ways: EXPIRED (s below the table's expiry floor — unrecoverable, the
    // consumed/unconsumed boundary is gone) or a HOLE a pre-clamp checkpoint
    // committed (recoverable: a hole never held files, so the true boundary
    // is the greatest retained version below it).
    val baseline: Long =
      if (t.manifestExists(s)) s
      else {
        require(s >= t.expiryFloor,
          s"streaming offset $s has been expired from $root — cannot resume exactly; " +
            "restart with a fresh checkpoint (or retain more snapshots)")
        (s - 1 to t.expiryFloor by -1L).find(t.manifestExists).getOrElse(
          // Reachable when the whole window below s is publish holes with the
          // true boundary expired below the floor — an expiry condition, not
          // store corruption; tell the operator the recovery that applies.
          throw new IllegalStateException(
            s"streaming offset $s of $root: no retained version at or below " +
              "it — the offset has effectively been expired; restart with a " +
              "fresh checkpoint (or retain more snapshots)"))
      }
    if (cdcMode) return planCdcBatch(t, baseline, e)
    val versions = baseline +: (s + 1 to e).filter(v => t.manifestExists(v))
    val added = versions.sliding(2).collect { case Seq(p, v) =>
      val prev = t.snapshotAt(p); val cur = t.snapshotAt(v)
      // Chunk-level diff when both manifests are chunked: shared chunks are
      // immutable and identical, so only the SYMMETRIC-DIFFERENCE chunks need
      // their entries loaded — the per-batch diff costs O(churn) manifest
      // reads, not two full materializations (at 10⁷ files, the difference
      // between a streaming trigger reading KBs and reading GBs of metadata).
      val (prevSide, curSide) = (prev.files, cur.files) match {
        case (pm: graft.table.ManifestFiles, cm: graft.table.ManifestFiles) =>
          val pChunks = pm.chunks.map(_.path).toSet
          val cChunks = cm.chunks.map(_.path).toSet
          (pm.loadWhere(ch => !cChunks.contains(ch.path)),
            cm.loadWhere(ch => !pChunks.contains(ch.path)))
        case (pf, cf) => (pf, cf)
      }
      val prevPaths = prevSide.map(_.path).toSet
      val curPaths = curSide.map(_.path).toSet
      val addedFiles = curSide.filterNot(f => prevPaths(f.path))
      val removed = prevSide.exists(f => !curPaths(f.path))
      val newDeletes = cur.deletes.map(_.path).toSet != prev.deletes.map(_.path).toSet
      if (removed || newDeletes) {
        if (!skipNonAppends) throw new UnsupportedOperationException(
          s"version $v of $root is not append-only (rewrites or delete files); " +
            "streaming reads emit appended rows only — set " +
            "option(\"skipNonAppends\", true) to skip such commits, or consume " +
            "net changelogs via TransactionalTable.changes")
        Seq.empty // skip the whole non-append commit
      } else addedFiles
    }.flatten.toSeq
    val entries = added.map(f => org.apache.spark.sql.graftshim.ManifestEntry(
      f.path, f.partition, f.pkMin, f.pkMax, f.bytes, f.stats, f.bloom, rows = f.rows))
    currentBatch = org.apache.spark.sql.graftshim.ManifestFileIndex
      .scanBuilder(spark, tableSchema, entries, t.pk, CaseInsensitiveStringMap.empty(),
        t.pkIsString)
      .build().toBatch
    currentBatch.planInputPartitions()
  }

  /** Changelog micro-batch: the interval's NET diff via the chunk-identity
    * changelog (O(churn) metadata + changed-file reads), selected into the
    * augmented read schema and spilled under the checkpoint scratch —
    * executor task retries re-read the identical batch instead of
    * re-running the diff, and a restarted driver re-plans it idempotently
    * (overwrite). Spills are dropped on offset commit. */
  private def planCdcBatch(t: TransactionalTable, s: Long,
      e: Long): Array[InputPartition] = {
    import org.apache.spark.sql.functions.col
    val dir = cdcSpillRoot.resolve(s"${s}_$e")
    // WRITE-ONCE spill with an atomic publish: Spark may re-plan the same
    // interval (query re-analysis, restarts) while a prior plan's tasks are
    // still reading — an in-place overwrite would orphan their file list
    // mid-read. A published interval is reused verbatim (the diff is
    // deterministic for fixed versions: manifests and data are immutable).
    if (s < e && !java.nio.file.Files.isDirectory(dir)) {
      val diff = if (t.rowLineageEnabled) t.changesWithLineage(s, e) else t.changes(s, e)
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp${System.nanoTime()}")
      diff.select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
        .write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp, dir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.io.IOException =>
          graft.util.Fs.deleteRecursively(tmp)
          // Only the lost-race case (a concurrent planner published first)
          // is benign. Any other move failure must FAIL the batch: falling
          // through with no spill dir would plan zero partitions and commit
          // the offset — the interval's changelog rows silently lost.
          if (!java.nio.file.Files.isDirectory(dir)) throw e
      }
    }
    val entries =
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else graft.util.Fs.walkSeq(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => org.apache.spark.sql.graftshim.ManifestEntry(
          p.toString, None, Long.MinValue, Long.MaxValue,
          java.nio.file.Files.size(p)))
    currentBatch = org.apache.spark.sql.graftshim.ManifestFileIndex
      .scanBuilder(spark, tableSchema, entries, t.pk, CaseInsensitiveStringMap.empty(),
        t.pkIsString)
      .build().toBatch
    currentBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    currentBatch.createReaderFactory()
}
