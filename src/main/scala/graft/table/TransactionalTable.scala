package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ManifestWrite
import org.apache.spark.sql.types.StructType

/** One immutable data file tracked by a snapshot manifest. `partition` is the
 *  value of the table's partition column for every row in the file; `pkMin`/
 *  `pkMax` enable file skipping during MERGE (the Iceberg-manifest idea,
 *  reference `spark_sql_merge_into_iceberg.py:51-63` delegates this to Iceberg). */
final case class DataFile(path: String, partition: Option[String], pkMin: Long, pkMax: Long,
    rows: Long, bytes: Long,
    /** Base64 bitset of a PK Bloom filter (small files only, see
      * TransactionalTable.BloomMaxRows): prunes files whose [pkMin, pkMax]
      * overlaps a merge's keys but which contain NONE of them — the common
      * case under continuous CDC, where every file's min/max span converges
      * to the whole key domain and range pruning alone stops helping. */
    bloom: Option[String] = None,
    /** Per-column [min,max] for the table's OTHER integral/timestamp columns
      * (lower-cased names; timestamps as epoch µs) — Iceberg column-stats
      * parity: SQL predicates on non-PK columns prune whole files at plan
      * time (ManifestFileIndex). Gathered by the task that writes the file,
      * as the Parquet footer reports them (no entry when the footer has no
      * numeric stats, e.g. INT96 timestamps), so it costs no read at commit. */
    stats: Map[String, (Long, Long)] = Map.empty,
    /** Partition-spec id this file was written under (partition evolution,
      * Iceberg spec-id parity): `partition` is the value of THAT spec's
      * transform, so pruning must reverse the file's own spec, not the
      * table's current one. 0 = the spec the table was created with. */
    specId: Int = 0,
    /** Row-lineage base (Iceberg v3 `first_row_id`): rows of this file whose
      * materialized `_rid` column is NULL inherit `firstRowId + row ordinal`
      * as their `_row_id`. Assigned once at commit from the table-level
      * next-row-id high-water mark; None on tables without `row.lineage` or
      * files committed before it was enabled (their rows read NULL ids). */
    firstRowId: Option[Long] = None)

/** A merge-on-read delete file (Iceberg v2 shapes, natively):
 *   - kind="equality": parquet of (pk, _dseq) key rows; a delete row masks any
 *     data row with the same key whose embedded `_seq` (commit version stamped
 *     at write) is LOWER than `_dseq`.
 *   - kind="position": parquet of (_dfile, _dpos) rows; masks exactly the row
 *     at ordinal `_dpos` of data file `_dfile`. No sequence logic is needed —
 *     positions pin concrete rows, and new data files (fresh paths) can never
 *     be referenced by an older delete file. */
final case class DeleteFile(path: String, pkMin: Long, pkMax: Long, rows: Long, bytes: Long,
    kind: String = DeleteFile.Equality,
    /** kind="vector" only (Iceberg v3 deletion vectors): the TARGET data
      * file this bitmap masks, recorded verbatim as `_metadata.file_path`
      * spells it (scheme included) so scan-side probes compare without
      * normalization. INVARIANT: at most one live vector entry per target —
      * a commit deleting more rows of the file writes old ∪ new and drops
      * the superseded entry. `offset`/`length` locate this DV's blob inside
      * `path` (one physical file per commit carries every target's blob —
      * the puffin-file shape). `rows` is the bitmap's exact cardinality. */
    target: Option[String] = None,
    offset: Long = 0L,
    length: Long = 0L)
object DeleteFile {
  val Equality = "equality"
  val Position = "position"
  val Vector = "vector"
}

/** A committed table version. `batchId` fences replays (T4): re-committing an
 *  already-applied streaming batch is a no-op. */
final case class Snapshot(version: Long, batchId: Long, files: Seq[DataFile],
    deletes: Seq[DeleteFile] = Seq.empty,
    /** Wall-clock commit time (ms) — drives `TIMESTAMP AS OF` time travel;
      * 0 for pre-upgrade manifests (always eligible). */
    committedAtMs: Long = 0L,
    /** Per-writer replay fences (Delta txnAppId / Iceberg WAP-id analogue):
      * independent streaming writers each fence their OWN epoch sequence, so
      * a second query with a fresh checkpoint (epochs restarting at 0) is
      * never silently dropped by another stream's global `batchId`. Keyed by
      * the streaming query id (or an explicit writerId option). Inherited
      * across every commit — see commit(). */
    writerFences: Map[String, Long] = Map.empty) {
  /** Exact only when no merge-on-read deletes are pending. Chunked manifests
    * answer from chunk-level stats — no entry is loaded. */
  def rowCount: Long = files match {
    case mf: ManifestFiles => mf.totalRows.getOrElse(mf.map(_.rows).sum)
    case s => s.map(_.rows).sum
  }
}

/** MERGE physical strategy. CopyOnWrite rewrites PK-affected files at commit
 *  (read-optimized; the reference's Iceberg v1 shape). MergeOnRead writes the
 *  batch as a new data file + an equality-delete file and defers the join to
 *  scan time (write-optimized; Iceberg v2 shape) — compaction folds deletes
 *  back in. */
/** A commit lost the optimistic race: another writer advanced the table (or
 *  holds an in-flight manifest) between snapshot read and pointer swap.
 *  Mutation entry points catch this and retry against the fresh snapshot. */
final class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

/** Serializable-isolation validation failure (Iceberg ValidationException
  * parity): the table advanced past the snapshot a write's SOURCE was
  * computed from, so retrying would commit stale data — the statement must
  * be re-run against the new state. Distinct from
  * [[ConcurrentCommitException]], which is the retryable CAS race. */
final class CommitConflictException(msg: String) extends IllegalStateException(msg)

sealed trait MergeMode
object MergeMode {
  case object CopyOnWrite extends MergeMode
  case object MergeOnRead extends MergeMode
  /** Merge-on-read with POSITIONAL delete files: the merge looks up the
   *  (file, row-ordinal) of each masked row at write time (reading only
   *  PK-range-pruned files), so the scan-side filter is a cheap anti-join on
   *  (file, pos) with no key semantics. Write cost ≈ MOR + a pruned read;
   *  read cost ≈ CoW. Iceberg v2's position-delete trade, natively. */
  case object MergeOnReadPositional extends MergeMode
  /** Merge-on-read with DELETION VECTORS (Iceberg v3's replacement for
   *  positional delete files): masked rows resolve to (file, ordinal) at
   *  write time like [[MergeOnReadPositional]], but land as one roaring-style
   *  bitmap per target data file — superseding bitmaps union-replace, so a
   *  file carries at most ONE delete artifact however many merges masked it,
   *  and the scan side pays a codegen'd O(1)-per-row filter instead of an
   *  anti-join. */
  case object MergeOnReadVector extends MergeMode
}

/**
 * TransactionalTable — Iceberg-semantics mutable table over plain Parquet.
 *
 * Re-creates what the reference obtains from the Iceberg runtime (ACID MERGE
 * sink + snapshot versioning, reference `job:51-63,118-136`) natively:
 *
 *  - snapshot-versioned manifests (`manifest/v{N}.json`) listing immutable
 *    Parquet files with per-file partition value and PK min/max stats; the
 *    file list lives in immutable manifest CHUNKS reused across versions, so
 *    a commit writes O(changed files) of metadata, not the table's whole
 *    file list (Iceberg's manifest-file layering, see planChunks);
 *  - commits are an atomic pointer swap (`_current` renamed into place) with
 *    OPTIMISTIC multi-writer concurrency: the CREATE_NEW manifest write is the
 *    per-version claim, losers recompute against the fresh snapshot and retry
 *    (see commit()/retryingCommit) — the local stand-in for the reference's
 *    DynamoDB commit lock (`job:57-58`);
 *  - MERGE is copy-on-write at file granularity: only files whose PK range
 *    intersects the batch's keys are rewritten; everything else is carried
 *    over by reference. At 100 TB this is the difference between rewriting
 *    a few files and rewriting the table.
 *  - `batchId` fencing makes streaming replays idempotent (at-least-once
 *    delivery → effectively-once table state, SURVEY §2.9 T4).
 *
 * Data files are self-contained (they include the partition column; the
 * `_p=value` directory layout is bookkeeping only), so a scan is a plain
 * multi-file Parquet read with full pushdown/pruning from Catalyst.
 */
final class TransactionalTable private (
    val spark: SparkSession,
    val root: String,
    val schema: StructType,
    val pk: String,
    /** Hidden-partitioning spec (Iceberg partition-transform parity):
      * identity / days / hours / bucket. The write path derives the `_p`
      * directory value via [[PartitionTransform.valueExpr]]; scans prune by
      * reversing the transform on predicates (ManifestFileIndex). */
    val partitionSpec: Option[PartitionTransform],
    /** RENAME COLUMN bookkeeping: lower-cased live column name → its former
      * names, most recent first. Files written before a rename still carry
      * the old name; the read path reads both and coalesces (see
      * readParquet) — renames are metadata-only, zero data movement. */
    val renames: Map[String, Seq[String]] = Map.empty,
    /** PAST partition specs by id (partition evolution): files stamped with
      * an older specId resolve their transform here; `partitionSpec` is the
      * spec under `currentSpecId` that new writes use. Ids with no transform
      * (the table was unpartitioned in that era) are simply absent. */
    val pastSpecs: Map[Int, PartitionTransform] = Map.empty,
    /** Spec id new files are stamped with (grows by 1 per evolution). */
    val currentSpecId: Int = 0,
    /** When set, this handle operates on the named BRANCH lineage (Iceberg
      * branch-ref parity): its own `_current` pointer and `v{N}.json`
      * manifests under `manifest/branches/<name>/`, sharing the table's data
      * files and schema. Every mutation/read API works against the branch;
      * [[TransactionalTable.publish]] fast-forwards main to a branch head
      * (write-audit-publish). */
    val branchName: Option[String] = None) {

  import TransactionalTable._

  /** COMPOSITE primary keys: `pk` may be a comma-separated column list
    * (`"customer_id,order_id"` — the DMS envelope's `primary-key` partition
    * type does not promise a single column any more than it promises an
    * integral one). Every row-correct operation joins on ALL member columns;
    * the manifest's 64-bit machinery runs in the hashed key domain below. */
  val pkCols: Seq[String] = pk.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  // Fail fast at table-handle construction: a PK type outside the supported
  // set would yield null stats that silently disable file pruning (lost
  // updates), not an error.
  require(pkCols.nonEmpty, "pk column list is empty")
  pkCols.foreach { c =>
    require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"pk column '$c' not in table schema")
    schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => ()
      case dt => throw new IllegalArgumentException(
        s"pk column '$c' must be integral (byte/short/int/long) or string, " +
          s"got ${dt.simpleString}")
    }
  }

  /**
   * Hashed key domains — string primary keys (the DMS envelope's
   * `partition-key-type: primary-key` does not promise integral keys —
   * reference `gen_fake_cdc_data.py:33`) and composite keys: the manifest's
   * 64-bit machinery (pkMin/pkMax ranges, blooms, sorted-key pruning)
   * operates on a KEY DOMAIN — the raw value cast to long for single integral
   * PKs, `xxhash64(cols…)` (seed 42, same Catalyst hash the SQL-side
   * ManifestFileIndex and bucket transform use) for string or composite PKs.
   * Hash-domain pruning is conservative under collisions (a colliding file is
   * read, never wrongly skipped); everything row-correct — merge joins,
   * equality-delete masking, guard resolution — uses the raw column(s), so
   * collisions can never lose or resurrect a row.
   */
  val pkHashed: Boolean = pkCols.length > 1 ||
    schema(pkCols.head).dataType == org.apache.spark.sql.types.StringType

  /** Kept name (SQL layer API): true when manifest pk stats are hash-domain. */
  def pkIsString: Boolean = pkHashed

  /** Key-domain expression over this table's PK column(s), resolved against
    * whatever DataFrame it is selected from (see [[pkHashed]]). */
  private def keyExpr: org.apache.spark.sql.Column =
    if (pkHashed) xxhash64(pkCols.map(col): _*) else col(pk).cast("long")

  /** Key-domain mapping of a SINGLE-column PK reference (callers that hold a
    * differently-named column, e.g. a renamed key side). */
  private def pkKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (pkHashed) xxhash64(c) else c.cast("long")

  /** PK columns as stored in equality-delete files: raw member columns for
    * hashed-domain PKs (the scan-side anti-join must be exact, not
    * hash-domain), a single 64-bit column for integral (unchanged layout). */
  private def pkDeleteCols: Seq[org.apache.spark.sql.Column] =
    if (pkHashed) pkCols.map(col) else Seq(col(pk).cast("long"))

  /** Delete files of one kind (equality or position), read under the schema
    * [[writeDeleteFile]] wrote: the [[pkDeleteCols]] plus `_dseq`, or
    * `_dfile` + `_dpos`. A given schema plans no schema-inference job. */
  private def readDeletes(ds: Seq[DeleteFile]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val written = ds.head.kind match {
      case DeleteFile.Position =>
        StructType(Seq(StructField("_dfile", StringType), StructField("_dpos", LongType)))
      case _ =>
        val keys = if (pkHashed) pkCols.map(schema(_)) else Seq(StructField(pk, LongType))
        StructType(keys :+ StructField("_dseq", LongType))
    }
    spark.read.schema(written).parquet(ds.map(_.path): _*)
  }
  /** Source column of the partition transform (the column users filter on). */
  def partitionCol: Option[String] = partitionSpec.map(_.col)

  /** Every spec by id, current included. */
  def allSpecs: Map[Int, PartitionTransform] =
    pastSpecs ++ partitionSpec.map(currentSpecId -> _)

  /** The transform a given file's `partition` value was derived under — the
    * only transform it is sound to reverse when pruning that file. */
  def specOf(id: Int): Option[PartitionTransform] =
    if (id == currentSpecId) partitionSpec else pastSpecs.get(id)

  partitionCol.foreach(p => require(schema.fieldNames.contains(p),
    s"partition column '$p' not in table schema"))
  partitionSpec.foreach { spec =>
    spec match {
      case _: PartitionTransform.Days | _: PartitionTransform.Hours =>
        require(schema(spec.col).dataType == org.apache.spark.sql.types.TimestampType,
          s"temporal partition transform needs a timestamp column, " +
            s"'${spec.col}' is ${schema(spec.col).dataType.simpleString}")
      case _ => ()
    }
  }

  private def mainManifestDir = Paths.get(root, "manifest")
  private def manifestDir = branchName match {
    case Some(b) => mainManifestDir.resolve("branches").resolve(b)
    case None => mainManifestDir
  }
  private def pointerPath = branchName match {
    case Some(b) => manifestDir.resolve("_current")
    case None => Paths.get(root, "_current")
  }
  private def dataDir = Paths.get(root, "data")
  private def branchesDir = mainManifestDir.resolve("branches")

  /** Commit-protocol I/O ([[CommitIO]]): POSIX by default; specs inject a
    * simulated object store to prove the claim/publish protocol holds
    * without atomic rename. */
  private[table] var commitIo: CommitIO = PosixCommitIO

  /** Per-attempt output directory for a commit's data/delete files. The nonce
    * makes concurrent attempts at the same version write DISJOINT paths — a
    * losing writer can never clobber files a winner's manifest references
    * (a shared `v$version` dir + overwrite mode would). A crashed or beaten
    * attempt orphans its directory; orphans are never referenced by any
    * manifest and are left for out-of-band cleanup, exactly like Iceberg's
    * orphan files. */
  private def commitDir(version: Long, tag: String = ""): Path =
    dataDir.resolve(
      s"v$version$tag-${java.lang.Long.toHexString(java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffL)}")

  private def manifestPath(version: Long): Path = manifestDir.resolve(s"v$version.json")

  /** The pointer's version; None before the first commit. */
  private def pointerVersion: Option[Long] = commitIo.readLong(pointerPath)

  def currentVersion: Long = pointerVersion.getOrElse(
    throw new java.nio.file.NoSuchFileException(pointerPath.toString))

  /** Retained versions up to the current one, ascending — one listing, so an
    * expired version or a publish numbering hole is simply absent, and a
    * claim ahead of the pointer (in flight or crashed) is not included. */
  private def committedVersions: Seq[Long] = {
    val current = currentVersion
    commitIo.versions(manifestDir).filter(_ <= current)
  }

  /** True when `version`'s manifest is retained (streaming offsets, tools). */
  def manifestExists(version: Long): Boolean = commitIo.exists(manifestPath(version))

  /** Smallest version that can only be missing due to a publish numbering
    * hole, never expiry: versions BELOW the floor may have been swept by
    * [[expireSnapshots]] (0 when expiry never ran — every missing manifest
    * is then a hole). Untagged-version caveat does not arise: the floor is
    * the expiry cutoff, and tagged survivors below it only ADD retained
    * manifests, never holes. */
  def expiryFloor: Long = commitIo.readLong(Paths.get(root, "_expiry_floor")).getOrElse(0L)

  def snapshot: Snapshot = snapshotAt(currentVersion)

  /** Load one immutable manifest chunk (cached globally by path — chunks are
    * write-once, so the cache never goes stale). */
  private def loadChunk(path: String): Seq[DataFile] = {
    val cached = chunkCache.get(path)
    if (cached != null) cached
    else {
      chunkLoads.incrementAndGet()
      val files = ChunkJson.fromBytes(commitIo.read(Paths.get(path)))
      if (chunkCache.size > MaxCachedChunks) chunkCache.clear()
      chunkCache.put(path, files)
      files
    }
  }

  /** Chunk paths referenced by a version's manifest (empty for legacy inline
    * manifests). Manifest-JSON-only — no chunk is opened. */
  private def chunkPathsOf(version: Long): Seq[String] =
    chunkRefsOf(manifest(version)).map(_.path)

  private def parseChunkRef(c: com.fasterxml.jackson.databind.JsonNode): ChunkRef =
    ChunkRef(c.get("path").asText(), c.get("n").asInt(),
      if (c.has("pkMin")) c.get("pkMin").asLong() else Long.MinValue,
      if (c.has("pkMax")) c.get("pkMax").asLong() else Long.MaxValue,
      if (c.has("rows")) c.get("rows").asLong() else -1L,
      if (c.has("bytes")) c.get("bytes").asLong() else -1L,
      if (c.has("parts"))
        Some(c.get("parts").elements().asScala.map(_.asText()).toSeq)
      else None,
      if (c.has("spec")) Some(c.get("spec").asInt()) else None,
      if (!c.has("stats")) Map.empty
      else c.get("stats").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
      }.toMap,
      if (c.has("minRows")) c.get("minRows").asLong() else -1L)

  /** Chunk refs (with stats) of a manifest — JSON-only, no chunk is
    * opened. Empty for legacy inline manifests. */
  private def chunkRefsOf(node: com.fasterxml.jackson.databind.JsonNode): Seq[ChunkRef] =
    if (!node.has("chunks")) Seq.empty
    else node.get("chunks").elements().asScala.map(parseChunkRef).toSeq

  /** A version's manifest JSON — one read; None when it is not retained. */
  private def manifestNode(version: Long): Option[com.fasterxml.jackson.databind.JsonNode] =
    commitIo.readIfExists(manifestPath(version)).map(b => mapper.readTree(b))

  /** [[manifestNode]] of a version that must be retained. A raw
    * NoSuchFileException would surface verbatim to SQL users (`VERSION AS
    * OF n` on an expired or publish-skipped version) — name the actual
    * failure and the retained range instead. */
  private def manifest(version: Long): com.fasterxml.jackson.databind.JsonNode =
    manifestNode(version).getOrElse(throw new IllegalArgumentException(
      s"no snapshot v$version at $root${branchName.fold("")(b => s" (branch $b)")}: " +
        "expired, publish-skipped, or never committed " +
        s"(current version: ${currentVersion})"))

  def snapshotAt(version: Long): Snapshot = snapshotOf(manifest(version))

  private def snapshotOf(node: com.fasterxml.jackson.databind.JsonNode): Snapshot = {
    val files: Seq[DataFile] =
      if (node.has("chunks")) {
        // Chunked manifest: the file list lives in immutable chunk files the
        // commit path reuses across versions (O(delta) commits — see commit()).
        // Materialization is LAZY (ManifestFiles): chunk-level stats answer
        // length/rowCount and let planners load only range-matching chunks;
        // a full traversal still loads everything in parallel.
        new ManifestFiles(chunkRefsOf(node), loadChunk)
      } else ChunkJson.files(node) // legacy inline manifest
    val deletes =
      if (!node.has("deletes")) Seq.empty
      else node.get("deletes").elements().asScala.map { d =>
        DeleteFile(d.get("path").asText(), d.get("pkMin").asLong(), d.get("pkMax").asLong(),
          d.get("rows").asLong(), d.get("bytes").asLong(),
          if (d.has("kind")) d.get("kind").asText() else DeleteFile.Equality,
          if (d.has("target")) Some(d.get("target").asText()) else None,
          if (d.has("off")) d.get("off").asLong() else 0L,
          if (d.has("len")) d.get("len").asLong() else 0L)
      }.toSeq
    Snapshot(node.get("version").asLong(), node.get("batchId").asLong(), files, deletes,
      if (node.has("committedAtMs")) node.get("committedAtMs").asLong() else 0L,
      writerFencesOf(node))
  }

  /** Per-writer fence map of a manifest node (absent on older manifests). */
  private def writerFencesOf(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Long] =
    if (!node.has("writerFences")) Map.empty
    else node.get("writerFences").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap

  /** Greatest committed version whose commit time is at or before `tsMs`
    * (Iceberg's timestamp→snapshot resolution). Expired versions are skipped;
    * throws when the timestamp predates every retained commit. */
  def versionAt(tsMs: Long): Long = {
    val vs = committedVersions.filter(v => snapshotAt(v).committedAtMs <= tsMs)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"no retained snapshot at or before timestamp $tsMs (root=$root)")
    vs.max
  }

  /** Full-table scan of the current snapshot (delete-file-aware). */
  def scan(): DataFrame = { val s = snapshot; scanWithDeletes(s.files, s.deletes) }

  /** Schema a version was committed under (Iceberg's per-snapshot schema-id
    * resolution): every manifest records the table schema at commit time, so
    * a DROP COLUMN later does not erase the column from history — and, like
    * Iceberg, an ALTER issued after a version's commit is NOT visible when
    * time-traveling to it (only live reads see the live `_table.json`
    * schema). Pre-upgrade manifests (no schema stamp) fall back to the live
    * schema. */
  def schemaAt(version: Long): StructType = {
    val node = manifest(version)
    if (!node.has("schemaJson")) schema
    else org.apache.spark.sql.types.DataType.fromJson(node.get("schemaJson").asText())
      .asInstanceOf[StructType]
  }

  /** Time travel: scan an older committed version (delete-file-aware), read
    * under the schema that version was committed with. */
  def scanAt(version: Long): DataFrame = scanAt(version, schemaAt(version))

  /** [[scanAt]] under an explicit schema — the SQL MOR rewrite passes the
    * RELATION's resolved schema so the substituted plan's columns always
    * line up with the attributes already bound above it. */
  def scanAt(version: Long, sch: StructType): DataFrame =
    { val s = snapshotAt(version); scanWithDeletes(s.files, s.deletes, sch) }

  /** Partition-pruned scan: only files whose partition value passes `pred` are
   *  read at all (manifest-level pruning, ahead of Parquet row-group skipping).
   *  `pred` speaks the CURRENT spec's value language — files written under an
   *  older spec (partition evolution) are conservatively kept. */
  def scanPartitions(pred: Option[String] => Boolean): DataFrame = {
    val s = snapshot
    scanWithDeletes(
      s.files.filter(f => f.specId != currentSpecId || pred(f.partition)), s.deletes)
  }

  /** Column-stats-pruned scan (r19 — the engine-op twin of the DSv2 stat
    * pruning the SQL surface already had): plans only the files whose
    * footer [min,max] for `column` can contain `value`; files without
    * recorded stats for the column are conservatively kept. Delete-aware.
    * The per-batch read-backs of the index families ride this so reading
    * one batch's committed rows schedules O(files of that batch), never
    * O(index) — the caller still applies the row-level filter (pruning is
    * file-granular). */
  def scanWhereEq(column: String, value: Long): DataFrame = {
    val s = snapshot
    val lc = column.toLowerCase(java.util.Locale.ROOT)
    val files = s.files.filter(f =>
      f.stats.get(lc).forall { case (mn, mx) => value >= mn && value <= mx })
    scanWithDeletes(files, s.deletes)
  }

  /** PK-pruned slice scan — the engine-op twin of the SQL layer's DSv2
   *  runtime filter (E63): plans ONLY the files that can contain a value of
   *  `keys`' FIRST column (exact key-set ∧ bloom pruning under the
   *  [[TransactionalTable.MaxCollectedKeys]] cap, [min,max]-range pruning
   *  past it — driver memory and PLAN SIZE stay bounded no matter how many
   *  keys arrive, unlike an inlined `isin` literal). Delete-aware. Pruning
   *  is file-granular, so the slice is a SUPERSET of the matching rows —
   *  the caller still joins/semi-joins it against the key set. */
  def scanForKeys(keys: DataFrame): DataFrame = {
    val snap = snapshot
    val keyDf = keys.select(pkKey(col(keys.columns.head)).as("_k")).distinct()
    val (affected, _) = affectedFiles(snap, keyDf)
    scanWithDeletes(affected, snap.deletes)
  }

  private def scanFiles(files: Seq[DataFile], sch: StructType = schema): DataFrame =
    if (files.isEmpty) graft.util.Frames.empty(spark, sch)
    else readParquet(files.map(_.path), sch)

  /** Rename-aware multi-file parquet read under `sch`: for every column with
    * tracked former names ([[renames]]), the files are read with the old
    * names as shadow fields and the output coalesces (new, old…) — a file
    * written before the rename populates exactly one of them. `withPos`
    * additionally surfaces `_gfile`/`_gpos` from the hidden `_metadata`
    * struct BEFORE any projection (positional-delete masking needs them, and
    * hidden-column resolution is only guaranteed on the scan relation
    * itself). */
  private def readParquet(paths: Seq[String], sch: StructType,
      withPos: Boolean = false): DataFrame = {
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val renamed = sch.fields.flatMap(f => renames.get(lc(f.name)).map(f -> _)).toSeq
    val posCols =
      if (withPos) Seq(col("_metadata.file_path").as("_gfile"),
        col("_metadata.row_index").as("_gpos"))
      else Seq.empty
    if (renamed.isEmpty) {
      val raw = spark.read.schema(sch).parquet(paths: _*)
      if (withPos) raw.select(col("*") +: posCols: _*) else raw
    } else {
      val present = sch.fieldNames.map(lc).toSet
      val shadow = renamed.flatMap { case (f, olds) =>
        olds.filterNot(o => present(lc(o)))
          .map(o => org.apache.spark.sql.types.StructField(o, f.dataType, nullable = true))
      }
      val oldsByCur = renamed.map { case (f, olds) => lc(f.name) -> olds }.toMap
      val outCols = sch.fields.map { f =>
        oldsByCur.get(lc(f.name)) match {
          case Some(olds) => coalesce((f.name +: olds).map(col).toIndexedSeq: _*).as(f.name)
          case None => col(f.name)
        }
      }.toSeq
      spark.read.schema(StructType(sch.fields ++ shadow)).parquet(paths: _*)
        .select(outCols ++ posCols: _*)
    }
  }

  /**
   * Delete-file-aware scan. When merge-on-read delete files are pending, data
   * is read with its embedded `_seq` commit stamp (files written before MOR
   * support lack it → null → treated as 0) and anti-joined against the
   * accumulated delete set: a delete row (pk, _dseq) masks same-key data rows
   * with an OLDER stamp. The delete side is broadcast while small (bounded by
   * merge traffic between compactions).
   */
  private def scanWithDeletes(files: Seq[DataFile], deletes: Seq[DeleteFile],
      sch: StructType = schema, withLineage: Boolean = false): DataFrame =
    if (deletes.isEmpty && !withLineage) scanFiles(files, sch)
    else if (files.isEmpty)
      graft.util.Frames.empty(spark,
        if (withLineage) sch.add("_rid", "long").add("_lseq", "long") else sch)
    else {
      val (vecDel, rest) = deletes.partition(_.kind == DeleteFile.Vector)
      val (posDel, eqDel) = rest.partition(_.kind == DeleteFile.Position)
      // Lineage reads surface the materialized `_rid`/`_lseq` shadows (null
      // in files that never went through a lineage-aware rewrite) plus the
      // per-file ordinal the inheritance fallback needs.
      val withSeq = {
        val s = sch.add("_seq", "long")
        if (withLineage) s.add("_rid", "long").add("_lseq", "long") else s
      }
      var data = readParquet(files.map(_.path), withSeq,
        withPos = posDel.nonEmpty || vecDel.nonEmpty || withLineage)
      if (vecDel.nonEmpty) {
        // Deletion vectors: one bitmap per target file (commit invariant).
        // Small sets ride IN the plan as a codegen'd O(1)-per-row filter
        // probe; a set past the broadcast bound expands executor-side into
        // (file, pos) rows and takes the positional anti-join shape.
        val blobs: Seq[(String, Array[Byte])] = vecDel.map { d =>
          d.target.getOrElse(throw new IllegalStateException(
            s"vector delete entry ${d.path} has no target")) -> readDvBlob(d)
        }
        val dvMaxBytes = spark.conf.getOption("spark.graft.dv.broadcastMaxBytes")
          .map(_.toLong).getOrElse(DvBroadcastMaxBytes)
        if (blobs.iterator.map(_._2.length.toLong).sum <= dvMaxBytes) {
          val lookup = new graft.functions.DvLookup(blobs.toMap)
          val probe = org.apache.spark.sql.graftshim.GraftShims.column(
            graft.functions.DvContains(
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_gfile"),
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_gpos"),
              lookup))
          data = data.where(!probe)
        } else {
          val parts = math.max(1, math.min(blobs.size, 32))
          val rows = spark.sparkContext.parallelize(blobs, parts).flatMap {
            case (f, b) => DeletionVector.deserialize(b).iterator
              .map(p => org.apache.spark.sql.Row(f, p))
          }
          val dvSchema = StructType(Seq(
            org.apache.spark.sql.types.StructField("_vfile",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("_vpos",
              org.apache.spark.sql.types.LongType)))
          data = data.join(spark.createDataFrame(rows, dvSchema),
            col("_gfile") === col("_vfile") && col("_gpos") === col("_vpos"),
            "left_anti")
        }
      }
      if (posDel.nonEmpty) {
        // Positional masking: anti-join on (file, ordinal) via Spark's hidden
        // per-file metadata columns — no key comparison, no sequence logic.
        // (_gfile/_gpos fall away in the final schema projection.)
        val pdRaw = readDeletes(posDel).select(col("_dfile"), col("_dpos"))
        val pd = if (posDel.map(_.rows).sum <= MaxCollectedKeys) broadcast(pdRaw) else pdRaw
        data = data
          .join(pd, col("_gfile") === col("_dfile") && col("_gpos") === col("_dpos"), "left_anti")
      }
      if (eqDel.nonEmpty) {
        // Composite PKs: delete files carry every raw member column; the
        // anti-join matches on all of them (exact, never hash-domain).
        val delRaw = readDeletes(eqDel)
          .select(pkCols.map(c => col(c).as(s"_d_$c")) :+ col("_dseq"): _*)
        val del = if (eqDel.map(_.rows).sum <= MaxCollectedKeys) broadcast(delRaw) else delRaw
        val keyCond = pkCols.map(c => col(c) === col(s"_d_$c")).reduce(_ && _)
        data = data.join(del,
          keyCond && col("_dseq") > coalesce(col("_seq"), lit(0L)),
          "left_anti")
      }
      if (withLineage) data = computedLineage(data, files)
      val outCols = if (withLineage) sch.fieldNames ++ Seq("_rid", "_lseq")
        else sch.fieldNames
      data.select(outCols.map(col).toIndexedSeq: _*)
    }

  /** Resolve row lineage on a positioned read (Iceberg v3 inheritance):
    * `_rid` = the file's materialized id, else `firstRowId + row ordinal`;
    * `_lseq` = the materialized last-updated stamp, else the row's own
    * `_seq` commit stamp (a fresh row's last update IS its write). The
    * per-file base rides in as a broadcast-joined local relation — one row
    * per scanned file, the same cardinality the scan already planned. Files
    * committed before lineage was enabled have no base and resolve NULL. */
  private def computedLineage(data: DataFrame, files: Seq[DataFile]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, LongType, StringType}
    // _metadata.file_path (_gfile) is a URI: scheme-prefixed AND
    // percent-ENCODED (a space is "%20"). Stripping the scheme on the scan
    // side handles the prefix; encoding is handled on the BROADCAST side by
    // keying each manifest file under both its plain path and its
    // URI-raw-encoded form (java.net.URI — the same encoder Spark's file
    // metadata uses), deduped so an ASCII-only path never joins twice.
    // Decoding the column instead would need url_decode, which corrupts
    // literal '+' in paths.
    // ENCODED keys win on collision: `_metadata.file_path` presents paths in
    // percent-ENCODED form, so when one file's encoded form equals ANOTHER
    // file's plain path (e.g. '/a b' encodes to '/a%20b' while a sibling is
    // literally named '/a%20b'), a scanned key '/a%20b' can only mean the
    // space-bearing file — the literal sibling's own scan key is its
    // DOUBLY-encoded form '/a%2520b'. The colliding file therefore drops its
    // plain alias (never its encoded one); keeping both would double-join,
    // and preferring plain would hand the rows the wrong firstRowId base.
    def encode(p: String): String =
      try Paths.get(p).toUri.getRawPath catch { case _: Exception => p }
    // Every encoded form that DIFFERS from its plain path. A file whose
    // plain path appears here drops its plain alias (its own encoded form
    // necessarily differs again — a '%'-bearing path always re-encodes —
    // so it stays uniquely reachable).
    val encodedForms: Set[String] = files.iterator
      .map(f => (f.path, encode(f.path)))
      .collect { case (p, e) if e != p => e }.toSet
    val rows: java.util.List[org.apache.spark.sql.Row] =
      files.flatMap { f =>
        val enc = encode(f.path)
        val keys = if (encodedForms.contains(f.path)) Set(enc)
          else Set(f.path, enc) // Set dedupes the common enc == plain case
        keys.map(k =>
          org.apache.spark.sql.Row(k, f.firstRowId.map(Long.box).orNull))
      }.asJava
    val fdf = spark.createDataFrame(rows, StructType(Seq(
      StructField("_lf_path", StringType), StructField("_lf_frid", LongType))))
    val plainFile = when(col("_gfile").startsWith("file:"),
      regexp_replace(col("_gfile"), "^file:/*", "/")).otherwise(col("_gfile"))
    data.join(broadcast(fdf), plainFile === col("_lf_path"), "left")
      .withColumn("_rid", coalesce(col("_rid"), col("_lf_frid") + col("_gpos")))
      .withColumn("_lseq", coalesce(col("_lseq"), col("_seq")))
      .drop("_lf_path", "_lf_frid")
  }

  /** Row-lineage snapshot scan (requires [[setRowLineage]]): the table's rows
    * plus `_row_id` (stable identity — survives CoW updates, compaction,
    * fold) and `_last_updated_seq` (the commit sequence that last changed the
    * row). NULL ids only on rows committed before lineage was enabled. */
  def scanLineage(version: Long = -1L): DataFrame = {
    require(rowLineageEnabled,
      s"row lineage is not enabled on $root (ALTER TABLE ... SET TBLPROPERTIES('row.lineage'='true'))")
    val s = if (version < 0) snapshot else snapshotAt(version)
    scanWithDeletes(s.files, s.deletes, schemaAt(if (version < 0) currentVersion else version),
      withLineage = true)
      .withColumnRenamed("_rid", "_row_id")
      .withColumnRenamed("_lseq", "_last_updated_seq")
  }

  /** COUNT(*): metadata-only from manifest stats when no merge-on-read
   *  deletes are pending (what Iceberg gives Athena for the reference's
   *  `README.md:511-512` query); with pending deletes the exact count needs
   *  the delete join, so it falls back to a scan. */
  def countRows: Long = {
    val s = snapshot
    if (s.deletes.isEmpty) s.rowCount else scan().count()
  }

  /**
   * Incremental changelog read (Iceberg incremental scan /
   * `create_changelog_view` parity — the "CDC out" counterpart of the MERGE
   * sink the reference builds on Iceberg): the NET row-level diff from
   * `fromVersion` to `toVersion` (both committed, retained snapshots), as the
   * to-version schema plus a `_change_type` column ('insert' | 'delete'). An
   * update surfaces as the delete of the old row image plus the insert of the
   * new one under the same PK; a pure-compaction interval (identical logical
   * rows) diffs to zero rows; `changes(0, v)` is the full state of `v` as
   * inserts.
   *
   * Cost is O(changed files), never O(table): only files added or removed
   * between the two snapshots are read, plus carried files that a NEW delete
   * file might mask rows of — pruned by PK-range overlap for equality deletes
   * and by the delete files' own recorded target paths for positional deletes
   * (delete files are small, bounded by merge traffic between compactions).
   * Rows present identically on both sides — CoW carry-over within a
   * rewritten slice — cancel via EXCEPT ALL over the changed slice only, so a
   * downstream consumer pays for the churn, not the table.
   */
  def changes(fromVersion: Long, toVersion: Long): DataFrame =
    changesInternal(fromVersion, toVersion, withLineage = false)._1

  /** [[changes]] plus an upper bound on its row count, from manifest row
    * counts alone (no Spark job): an insert image comes from an added or a
    * delete-touched carried file, a delete image from a removed or a
    * delete-touched carried file, and deletes only drop rows. */
  def changesBounded(fromVersion: Long, toVersion: Long): (DataFrame, Long) =
    changesInternal(fromVersion, toVersion, withLineage = false)

  /** [[changes]] carrying ROW LINEAGE (Iceberg v3 changelog shape): every
    * diff row adds `_row_id` / `_last_updated_seq`, so an UPDATE surfaces as
    * a delete+insert pair sharing the SAME `_row_id` — downstream consumers
    * track row identity across updates instead of re-keying. Sound because
    * maintenance rewrites MATERIALIZE lineage: a compaction-only interval's
    * carried rows agree on (data, id, stamp) on both sides and cancel in the
    * EXCEPT ALL exactly as without lineage. Requires [[setRowLineage]]. */
  def changesWithLineage(fromVersion: Long, toVersion: Long): DataFrame = {
    require(rowLineageEnabled,
      s"row lineage is not enabled on $root (ALTER TABLE ... SET TBLPROPERTIES('row.lineage'='true'))")
    changesInternal(fromVersion, toVersion, withLineage = true)._1
      .withColumnRenamed("_rid", "_row_id")
      .withColumnRenamed("_lseq", "_last_updated_seq")
  }

  private def changesInternal(fromVersion: Long, toVersion: Long,
      withLineage: Boolean): (DataFrame, Long) = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion must be <= toVersion $toVersion")
    val fromSnap = snapshotAt(fromVersion)
    val toSnap = snapshotAt(toVersion)
    val sch = schemaAt(toVersion) // before-side files null-fill later-added columns
    // CHUNK-IDENTITY diff (commits reuse clean chunks by reference): only
    // the chunks unique to one endpoint load — the interval's added/removed
    // file lists cost O(churn) entry loads, never O(table). Within one
    // manifest chunks hold disjoint file sets, so a path in a to-only chunk
    // lives at `from` iff it is in a from-only chunk.
    val (fromOnly, toOnly) = (fromSnap.files, toSnap.files) match {
      case (am: ManifestFiles, bm: ManifestFiles) =>
        val aP = am.chunks.map(_.path).toSet
        val bP = bm.chunks.map(_.path).toSet
        (am.loadWhere(c => !bP.contains(c.path)), bm.loadWhere(c => !aP.contains(c.path)))
      case (a, b) => (a: Seq[DataFile], b: Seq[DataFile]) // legacy inline
    }
    val fromOnlyPaths = fromOnly.map(_.path).toSet
    val toOnlyPaths = toOnly.map(_.path).toSet
    val added = toOnly.filterNot(f => fromOnlyPaths(f.path))
    val addedPaths = added.map(_.path).toSet
    val removed = fromOnly.filterNot(f => toOnlyPaths(f.path))
    // A vector entry is "new" when its (path, target, offset) identity is —
    // a superseding DV shares neither path nor offset with the one it
    // replaced, and an UNCHANGED entry carried across the interval masks
    // nothing new.
    val oldDeleteIds = fromSnap.deletes.map(d => (d.path, d.target, d.offset)).toSet
    val newDeletes = toSnap.deletes.filterNot(d => oldDeleteIds((d.path, d.target, d.offset)))
    val newVec = newDeletes.filter(_.kind == DeleteFile.Vector)
    val newPos = newDeletes.filter(_.kind == DeleteFile.Position)
    val newEq = newDeletes.filter(_.kind == DeleteFile.Equality)
    // A delete kind `touched` does not know can mask ANY carried file:
    // every carried file then counts as touched (see the append-only guard)
    val unknownDeletes = newDeletes.size != newVec.size + newPos.size + newEq.size
    // Positional deletes name their victim files outright — read the tiny
    // delete files once and prune carried files to exactly those targets
    // (their manifest pk range is the never-prunable full span, see
    // writeDeleteFile, so range overlap would keep every carried file).
    // Vector entries are cheaper still: the target rides in the manifest.
    val posTargets: Set[String] =
      (if (newPos.isEmpty) Set.empty[String]
       else readDeletes(newPos)
         .select(col("_dfile")).distinct().collect()
         .map(r => stripScheme(r.getString(0))).toSet) ++
        newVec.flatMap(_.target).map(stripScheme)
    // Carried files the interval's NEW deletes can touch. A carried file is
    // any `to` file that is not newly added; with chunked manifests only
    // chunks whose pk range overlaps a new equality delete load (positional
    // targets are named by PATH, which chunk stats cannot prune — those
    // intervals fall back to the full carried walk, exactly the pre-rewrite
    // cost).
    def touched(f: DataFile): Boolean =
      unknownDeletes ||
        newEq.exists(d => d.pkMin <= f.pkMax && d.pkMax >= f.pkMin) ||
        posTargets.contains(stripScheme(f.path))
    val affectedCarried: Seq[DataFile] =
      if (newEq.isEmpty && posTargets.isEmpty && !unknownDeletes) Seq.empty
      else toSnap.files match {
        case mf: ManifestFiles =>
          val keep: ChunkRef => Boolean =
            if (posTargets.nonEmpty || unknownDeletes) _ => true
            else c => newEq.exists(d => d.pkMin <= c.pkMax && d.pkMax >= c.pkMin)
          mf.loadWhere(keep).filter(f => !addedPaths.contains(f.path) && touched(f))
        case sq => sq.filter(f => !addedPaths.contains(f.path) && touched(f))
      }
    val after = scanWithDeletes(added ++ affectedCarried, toSnap.deletes, sch,
      withLineage = withLineage)
    val rowBound = (added ++ removed).map(_.rows).sum + 2 * affectedCarried.map(_.rows).sum
    // INVARIANT of the fast path below: `touched` over-approximates every
    // carried file a new delete artifact can mask. It knows the equality
    // (pk range), position (named target) and vector (manifest target)
    // kinds; any other kind counts every carried file as touched, so an
    // interval carrying one always runs the EXCEPT-ALL pair. A new delete
    // kind must be wired into `touched` before it can ride the fast path,
    // or this branch would silently drop its delete images.
    if (removed.isEmpty && affectedCarried.isEmpty) {
      // APPEND-ONLY interval, decided from manifest metadata alone: nothing
      // was removed and no new delete artifact touches a carried file, so
      // the before side is provably empty — `after ⊖ ∅ = after` (multiset)
      // and `∅ ⊖ after = ∅`. Skip the EXCEPT-ALL pair outright: the
      // changelog is exactly the added files as inserts, two aggregate
      // passes cheaper per consumer action, and a downstream delete probe
      // (`where(_change_type = 'delete')`) constant-folds to an empty
      // relation instead of launching a job (r20; guide §2.4).
      (after.withColumn("_change_type", lit("insert")), rowBound)
    } else {
      val before = scanWithDeletes(removed ++ affectedCarried, fromSnap.deletes,
        sch, withLineage = withLineage)
      (after.exceptAll(before).withColumn("_change_type", lit("insert"))
        .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete"))),
        rowBound)
    }
  }

  /** `TRUNCATE TABLE` (SQL metadata-only truncation): one commit with an
    * empty file list and no deletes — data files stay on disk for time
    * travel (snapshot expiry reclaims them), the replay fence is untouched
    * (truncation is an operator action, not a stream epoch). */
  def truncate(): Unit = synchronized {
    retryingCommit("truncate") { snap =>
      commit(Snapshot(snap.version + 1, snap.batchId, Seq.empty, Seq.empty))
    }
  }

  /**
   * Metadata-only DELETE for a partition-covering predicate (Iceberg
   * `canDeleteWhere`/`deleteWhere` parity): drop every data file whose
   * IDENTITY partition value is in `values` as a PURE metadata commit — no
   * scan, no write job. On a 100 TB table, dropping a day's partition is
   * O(touched manifest chunks), not a rewrite job: chunk partition-value
   * lists let untouched chunks ride by reference, exactly like a merge's
   * carried files. Data files stay on disk for time travel; positional/DV
   * delete artifacts that targeted a dropped file are dropped with it
   * (equality deletes may still mask carried files and are kept).
   *
   * Returns Some(files dropped) on success, or None when membership is NOT
   * decidable from metadata alone — some candidate file predates the
   * current partition spec (partition evolution: its rows' membership is
   * unknown without reading them) or carries no partition value — in which
   * case the caller falls back to the key-scan + merge path. The decision
   * is made against the SAME snapshot the commit applies to, inside the
   * optimistic-retry loop.
   */
  def deletePartitions(values: Set[String]): Option[Long] = synchronized {
    require(partitionSpec.isDefined, "deletePartitions requires a partitioned table")
    var result: Option[Long] = None
    // Positional-delete victim sets, memoized by delete-file path: delete
    // files are immutable, so under commit contention the retry loop reuses
    // the already-read sets instead of re-running a Spark job per attempt.
    val victimMemo = scala.collection.mutable.HashMap.empty[String, Array[String]]
    retryingCommit("delete") { snap =>
      // Chunk-level triage: a chunk with a recorded partition list under the
      // current spec that misses every value provably contains no matching
      // file; everything else loads (O(touched chunks), cache-hot JSON).
      val dirtyTest: ChunkRef => Boolean = c =>
        !(c.specId.contains(currentSpecId) &&
          c.partitions.exists(ps => !ps.exists(values)))
      val touched: Seq[DataFile] = snap.files match {
        case m: ManifestFiles => m.loadWhere(dirtyTest)
        case s => s
      }
      if (touched.exists(f => f.specId != currentSpecId || f.partition.isEmpty)) {
        result = None // straddling/evolved files: not metadata-decidable
      } else {
        val removed = touched.filter(_.partition.exists(values))
        if (removed.isEmpty) result = Some(0L) // nothing matches: no-op, no commit
        else {
          val removedPaths = removed.map(_.path).toSet
          val carried = snap.files match {
            case m: ManifestFiles => m.withoutLazy(removedPaths, dirtyTest)
            case s => s.filterNot(f => removedPaths.contains(f.path))
          }
          pendingChunkHint = Some((removed, Seq.empty))
          // Delete artifacts whose victims are ALL dropped drop too —
          // otherwise morPending never clears and maintenance keeps
          // refusing. Targets are URI-form (_metadata.file_path); manifest
          // paths plain — normalize like every other comparison (l.746,
          // l.3200). DV entries carry their target in the manifest;
          // POSITIONAL entries record victims only inside the (tiny,
          // merge-traffic-bounded) delete file — read their distinct _dfile
          // set once. An artifact masking ANY surviving file is carried.
          val keptDeletes = snap.deletes.filter { d =>
            d.target match {
              case Some(tgt) => // vector (and any target-carrying) entries
                !removedPaths.contains(TransactionalTable.stripScheme(tgt))
              case None if d.kind == DeleteFile.Position =>
                val victims = victimMemo.getOrElseUpdate(d.path,
                  readDeletes(Seq(d)).select(col("_dfile"))
                    .distinct().collect()
                    .map(r => TransactionalTable.stripScheme(r.getString(0))))
                !victims.forall(removedPaths.contains)
              case None => true // equality deletes mask by KEY, not by file
            }
          }
          commit(Snapshot(snap.version + 1, snap.batchId, carried, keptDeletes))
          result = Some(removed.length.toLong)
        }
      }
    }
    result
  }

  /**
   * Iceberg `cherrypick_snapshot` parity, generalized to any commit shape:
   * re-apply ONE version's net row-level delta onto the CURRENT head as a
   * fresh commit — the redo half of rollback (roll back past a bad commit,
   * then cherry-pick the good commits above it). The delta is
   * `changes(version-1, version)`: inserted row images become upserts,
   * deleted row images whose PK is not re-inserted become delete keys, and
   * the pair is applied through ONE `mergeAdhoc` commit (ad-hoc: the
   * streaming replay fence never advances). Requires both endpoint
   * manifests retained.
   */
  def cherrypick(version: Long): Unit = synchronized {
    require(version >= 1, s"cherrypick: need version >= 1, got $version")
    require(manifestExists(version) && manifestExists(version - 1),
      s"cherrypick: versions ${version - 1} and $version must both be retained")
    val delta = changes(version - 1, version).persist()
    try {
      val ups = delta.filter(col("_change_type") === "insert").drop("_change_type")
      val insKeys = ups.select(pkCols.map(col): _*)
      val delKeys = delta.filter(col("_change_type") === "delete")
        .select(pkCols.map(col): _*)
        .join(insKeys, pkCols, "left_anti")
      mergeAdhoc(ups, delKeys)
    } finally delta.unpersist()
  }

  // --- Named snapshot refs (Iceberg tags): human-readable pointers to
  // versions, resolvable via `VERSION AS OF 'name'`, protected from expiry ---
  private def refsPath = Paths.get(root, "_refs.json")

  /** Current tag → version map (empty when no refs file exists). */
  def tags: Map[String, Long] =
    commitIo.readIfExists(refsPath).fold(Map.empty[String, Long]) { b =>
      mapper.readTree(b).properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }

  /** Tag a committed version (default: the current one). Overwrites an
    * existing tag of the same name. Atomic last-writer-wins on the refs file
    * (refs are operator metadata, not part of the commit protocol). */
  def createTag(name: String, version: Long = -1L): Unit = synchronized {
    require(branchName.isEmpty, "tags name MAIN versions; create them from the main handle")
    val v = if (version >= 0) version else currentVersion
    require(manifestExists(v), s"cannot tag version $v: no such retained snapshot")
    writeRefs(tags + (name -> v))
  }

  def dropTag(name: String): Unit = synchronized { writeRefs(tags - name) }

  // --- Branches (Iceberg branch refs + write-audit-publish): a branch is a
  // full fork of the table lineage — its own `_current` + manifests under
  // manifest/branches/<name>/, SHARING data files and chunk files with main.
  // Every table API (merge, scan, changes, compact, time travel) works on a
  // branch handle; `publish` fast-forwards main to the branch head in one
  // atomic commit. Branch creation is O(1) in data AND manifest bytes: the
  // fork's v0 reuses the source manifest's chunk references verbatim. ---

  private def validBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_.-]+"), s"invalid branch name '$name'")

  /** Handle on an existing branch, on this handle's [[CommitIO]]; all
    * operations target its lineage. */
  def branch(name: String): TransactionalTable = {
    require(branchName.isEmpty, "nested branches are not supported")
    validBranchName(name)
    require(commitIo.exists(branchesDir.resolve(name).resolve("_current")),
      s"no such branch '$name' (branches: ${listBranches.mkString(", ")})")
    val b = new TransactionalTable(spark, root, schema, pk, partitionSpec, renames,
      pastSpecs, currentSpecId, Some(name))
    b.commitIo = commitIo
    b
  }

  /** Fork a branch at `fromVersion` (default: the current main snapshot).
    * Pure metadata, O(1): the fork manifest reuses the source version's
    * chunk references verbatim — no data or file-list bytes are copied.
    * The branch KEEPS the source's version number and its commits continue
    * from it (v, v+1, …): data-file `_seq` stamps equal the committing
    * version, and equality-delete masking requires `_dseq > _seq` — a
    * renumbered-to-zero fork would stamp new branch writes BELOW the forked
    * files' seqs and silently stop masking them. */
  def createBranch(name: String, fromVersion: Long = -1L): TransactionalTable =
    synchronized {
      require(branchName.isEmpty, "create branches from the main handle")
      validBranchName(name)
      val bdir = branchesDir.resolve(name)
      require(!commitIo.exists(bdir.resolve("_current")), s"branch '$name' already exists")
      val v = if (fromVersion >= 0) fromVersion else currentVersion
      val source = commitIo.readIfExists(mainManifestDir.resolve(s"v$v.json"))
      require(source.isDefined, s"cannot branch from version $v: snapshot expired or never existed")
      // Copy the source manifest verbatim — chunk paths are absolute, so the
      // fork references the same immutable chunk files (expiry's chunk GC is
      // branch-aware, see expireSnapshots). The branch exists once its
      // pointer lands; an identical fork manifest left by a create that
      // crashed before that is reused.
      val fork = bdir.resolve(s"v$v.json")
      try commitIo.putIfAbsent(fork, source.get)
      catch { case e: java.nio.file.FileAlreadyExistsException =>
        if (!commitIo.readIfExists(fork).exists(java.util.Arrays.equals(_, source.get))) throw e
      }
      commitIo.putAtomic(bdir.resolve("_current"), v.toString.getBytes)
      branch(name)
    }

  def listBranches: Seq[String] =
    commitIo.list(branchesDir).filter(p => commitIo.exists(p.resolve("_current")))
      .map(_.getFileName.toString).sorted

  /** Delete a branch's pointer, manifests and chunks — the pointer first,
    * so a crash midway leaves no half-branch behind, only unreferenced
    * objects. Data files the branch alone referenced become orphans (swept
    * by [[removeOrphanFiles]] after the grace window); files shared with
    * main are untouched. */
  def dropBranch(name: String): Unit = synchronized {
    require(branchName.isEmpty, "drop branches from the main handle")
    validBranchName(name)
    val bdir = branchesDir.resolve(name)
    def deleteUnder(dir: Path): Unit =
      commitIo.list(dir).foreach { p => deleteUnder(p); commitIo.delete(p) }
    commitIo.delete(bdir.resolve("_current"))
    deleteUnder(bdir)
    commitIo.delete(bdir)
  }

  /**
   * Write-audit-publish: atomically fast-forward MAIN to the branch's head
   * state — one metadata commit, no data movement. The published commit
   * carries the greater of the two batchId fences AND the per-key max of the
   * two writer-fence maps (streaming batches applied on the branch must stay
   * fenced after publish; batches applied on main meanwhile must too).
   *
   * Fast-forward is REFUSED when main has diverged — i.e. main's current
   * version is neither the branch's fork point nor the result of this
   * branch's own last publish (Iceberg `fast_forward` refuses on
   * non-ancestry for the same reason: the branch head does not contain the
   * concurrent main commit, so fast-forwarding would silently discard it).
   * `force = true` overrides and replaces main's state wholesale. A main
   * commit racing the publish itself lands first via the optimistic retry
   * loop, then trips the same divergence check on the recompute.
   */
  def publish(name: String, force: Boolean = false): Unit = synchronized {
    require(branchName.isEmpty, "publish from the main handle")
    val b = branch(name)
    val bdir = branchesDir.resolve(name)
    // The fork point is the smallest manifest in the branch dir (createBranch
    // copies v<fork>.json; branch commits continue from fork+1). A prior
    // publish of THIS branch records the main version it produced, so
    // publish → keep committing on the branch → publish again stays legal.
    def publishBase: Set[Long] =
      Set(commitIo.versions(bdir).headOption.getOrElse(Long.MaxValue)) ++
        commitIo.readLong(bdir.resolve("_published"))
    // Crash recovery for the marker write below: the `_published` marker
    // lands AFTER the publish commit, so a crash between the two leaves main
    // at the published version while the branch lacks the marker. Such a
    // main head is STATE-IDENTICAL to a branch version — recognize it by
    // comparing file/delete path sets against recent retained branch
    // manifests (metadata-only; publishes are rare) instead of refusing a
    // legitimate re-publish and pushing the operator to force=true, which
    // would bypass real divergence detection.
    def stateMatchesBranch(snap: Snapshot): Boolean = {
      // Metadata-only pre-filter (chunked manifests answer length from chunk
      // counts — no entry loads): only a candidate with the SAME file and
      // delete-file counts pays the path-set comparison, so the common
      // genuinely-diverged case rejects without materializing anything.
      lazy val mainFiles = snap.files.map(_.path).toSet
      lazy val mainDeletes = snap.deletes.map(_.path).toSet
      // chunk-identity fast path: immutable chunk files with the same paths
      // hold the same entries, so equal chunk sets prove equal file sets
      // WITHOUT loading an entry (the normal publish-match case — branch
      // manifests reference main's chunk files verbatim)
      lazy val mainChunks: Option[Set[String]] = snap.files match {
        case mf: ManifestFiles => Some(mf.chunks.map(_.path).toSet)
        case _ => None
      }
      (b.currentVersion to math.max(0L, b.currentVersion - 16) by -1L)
        .view.filter(b.manifestExists).exists { v =>
          val bs = b.snapshotAt(v)
          bs.files.length == snap.files.length &&
            bs.deletes.length == snap.deletes.length && {
              val chunkEqual = (mainChunks, bs.files) match {
                case (Some(mc), bm: ManifestFiles) =>
                  if (bm.chunks.map(_.path).toSet == mc) Some(true) else None
                case _ => None
              }
              chunkEqual.getOrElse(bs.files.map(_.path).toSet == mainFiles)
            } &&
            bs.deletes.map(_.path).toSet == mainDeletes
        }
    }
    retryingCommit("publish") { snap =>
      if (!force && !publishBase.contains(snap.version) && !stateMatchesBranch(snap))
        throw new IllegalStateException(
          s"publish('$name'): main is at version ${snap.version}, which is neither " +
            s"the branch fork point nor this branch's last published version " +
            s"(${publishBase.toSeq.sorted.mkString("/")}) — a commit landed on main " +
            "after the fork and fast-forwarding would discard it. Rebase the branch " +
            "(re-fork and re-apply) or publish(name, force = true) to replace main.")
      val head = b.snapshot
      // Per-writer replay fences: union of both lineages, per-key max —
      // branch-applied streaming batches stay fenced after publish, and so
      // do batches another stream applied to main meanwhile.
      val fences = (snap.writerFences.keySet ++ head.writerFences.keySet).map { k =>
        k -> math.max(snap.writerFences.getOrElse(k, -1L),
          head.writerFences.getOrElse(k, -1L))
      }.toMap
      // The published version must EXCEED the branch head: published files
      // carry `_seq` stamps up to head.version, and a later main delete file
      // can only mask rows whose `_seq` is lower than its own committing
      // version. Main's numbering may skip — every version walk filters on
      // manifest existence.
      val newVersion = math.max(snap.version, head.version) + 1
      commit(Snapshot(newVersion, math.max(snap.batchId, head.batchId),
        head.files, head.deletes, writerFences = fences))
      commitIo.putAtomic(bdir.resolve("_published"), newVersion.toString.getBytes)
    }
  }

  private def writeRefs(refs: Map[String, Long]): Unit = {
    val node = mapper.createObjectNode()
    refs.foreach { case (k, v) => node.put(k, v) }
    commitIo.putAtomic(refsPath, mapper.writeValueAsBytes(node))
  }

  /**
   * Expire old snapshots (Iceberg `expire_snapshots` parity): keep the last
   * `keepLast` versions plus every TAGGED version, delete older manifests and
   * any data/delete file no kept snapshot references. Time travel remains
   * valid within the kept window and at tags; storage stops growing without
   * bound under continuous CDC.
   */
  def expireSnapshots(keepLast: Int = 2): Unit = synchronized {
    require(branchName.isEmpty, "expire snapshots from the main handle")
    require(keepLast >= 1, "must keep at least the current snapshot")
    expireBelow(currentVersion - keepLast + 1)
  }

  /** Iceberg `expire_snapshots(older_than => ts)` parity: expire every
    * snapshot committed strictly BEFORE `tsMillis` (retention by AGE — the
    * production cadence: "keep a week of time travel"), while always
    * retaining the `keepLast` most recent versions and every tagged one
    * whatever their age. Same machinery as [[expireSnapshots]]: the age
    * boundary just picks the version cutoff. */
  def expireSnapshotsOlderThan(tsMillis: Long, keepLast: Int = 1): Unit = synchronized {
    require(branchName.isEmpty, "expire snapshots from the main handle")
    require(keepLast >= 1, "must keep at least the current snapshot")
    val current = currentVersion
    // smallest version young enough to retain; everything below expires
    val byAge = committedVersions.find(v => snapshotAt(v).committedAtMs >= tsMillis)
      .getOrElse(current)
    expireBelow(math.min(byAge, current - keepLast + 1))
  }

  /** Shared expiry kernel: delete manifests below `cutoff` (tags always
    * survive) and any file no kept snapshot references. */
  private def expireBelow(cutoff: Long): Unit = {
    val current = currentVersion
    if (cutoff <= 0) return
    // Persist the expiry floor FIRST (monotone max): versions below it may
    // have been expired; a missing manifest AT or ABOVE it can only be a
    // publish numbering hole. Streaming resume uses this to tell a wedged
    // hole-offset apart from a genuinely expired one (writing before the
    // deletes keeps the floor conservative across a crash mid-expiry).
    if (cutoff > expiryFloor)
      commitIo.putAtomic(Paths.get(root, "_expiry_floor"),
        cutoff.toString.getBytes)
    val tagged = tags.values.toSet
    // Publish after branch divergence can skip main version numbers — the
    // listing holds only versions whose manifest actually exists.
    val present = commitIo.versions(manifestDir).filter(_ <= current)
    val keptVersions = present.filter(v => v >= cutoff || tagged(v))
    val kept = keptVersions.map(snapshotAt)
    // Branch lineages pin their files and chunk refs: a branch forked before
    // the cutoff must survive main's expiry untouched.
    val branchKept: Seq[Snapshot] = listBranches.flatMap { b =>
      val h = branch(b); h.committedVersions.map(h.snapshotAt)
    }
    // Reference resolution by CHUNK IDENTITY + a distributed anti-join (the
    // same shape as removeOrphanFiles): the driver holds chunk paths and the
    // inline/delete refs only. Expired-version files living in a chunk a
    // KEPT manifest also references are live by construction (zero loads);
    // only the chunks EXCLUSIVE to expired versions parse — executor-side —
    // and their paths anti-join the kept reference scan. O(chunks) driver
    // memory, never O(files).
    val keptChunkPaths = scala.collection.mutable.LinkedHashSet.empty[String]
    val keptDirect = scala.collection.mutable.HashSet.empty[String]
    (kept ++ branchKept).foreach { s =>
      s.files match {
        case mf: ManifestFiles => mf.chunks.foreach(c => keptChunkPaths += c.path)
        case sq => sq.foreach(f => keptDirect += f.path)
      }
      s.deletes.foreach(d => keptDirect += d.path)
    }
    val expiredVersions = present.filter(v => v < cutoff && !tagged(v))
    val expChunkPaths = scala.collection.mutable.LinkedHashSet.empty[String]
    val expDirect = scala.collection.mutable.HashSet.empty[String]
    expiredVersions.foreach { v =>
      val snap = snapshotAt(v)
      snap.files match {
        case mf: ManifestFiles => mf.chunks.foreach(c => expChunkPaths += c.path)
        case sq => sq.foreach(f => expDirect += f.path)
      }
      snap.deletes.foreach(d => expDirect += d.path)
    }
    val exclusiveChunks = expChunkPaths.filterNot(keptChunkPaths).toSeq
    val directCandidates = expDirect.filterNot(keptDirect).toSeq
    if (exclusiveChunks.nonEmpty || directCandidates.nonEmpty) {
      import spark.implicits._
      def pathsOf(chunks: Seq[String], direct: Seq[String]) = {
        val fromChunks =
          if (chunks.isEmpty) spark.emptyDataset[String].toDF("p")
          else spark.sparkContext.parallelize(chunks, math.min(64, chunks.size))
            .flatMap(p => ChunkJson.parse(p).map(_.path)).toDF("p")
        fromChunks.unionByName(direct.toDF("p")).distinct()
      }
      val candidates = pathsOf(exclusiveChunks, directCandidates)
      val keptRefs = pathsOf(keptChunkPaths.toSeq, keptDirect.toSeq)
      val doomed = candidates.join(keptRefs, Seq("p"), "left_anti")
        .as[String].collect()
      doomed.foreach { p =>
        val path = Paths.get(p)
        if (Files.isDirectory(path)) graft.util.Fs.deleteRecursively(path)
        else Files.deleteIfExists(path)
      }
    }
    expiredVersions.foreach(v => commitIo.delete(manifestPath(v)))
    // Manifest-chunk GC: drop chunk files no remaining manifest references
    // (expired versions' exclusive chunks, plus crash-orphaned chunks).
    // Branch manifests reference main chunk files (O(1) forks) — theirs are
    // live too.
    val chunkFiles = commitIo.list(manifestDir.resolve("chunks"))
    if (chunkFiles.nonEmpty) {
      val branchChunks = listBranches.flatMap { b =>
        val h = branch(b); h.committedVersions.flatMap(h.chunkPathsOf)
      }
      val live = (keptVersions.flatMap(chunkPathsOf) ++ branchChunks).toSet
      chunkFiles.filterNot(p => live.contains(p.toString))
        .foreach { p => chunkCache.remove(p.toString); commitIo.delete(p) }
    }
  }

  /**
   * Delete data files no RETAINED manifest references (Iceberg
   * `remove_orphan_files` parity). Orphans arise from commit attempts that
   * lost the optimistic race or crashed mid-write (each attempt writes to a
   * unique directory precisely so a loser cannot clobber a winner — the cost
   * is that its files linger). Only files older than `olderThanMs` are
   * removed, so an IN-FLIGHT writer's not-yet-committed files are never
   * swept. Returns the number of files deleted.
   */
  def removeOrphanFiles(olderThanMs: Long = 3600000L): Long = synchronized {
    require(branchName.isEmpty, "remove orphans from the main handle")
    if (!Files.isDirectory(dataDir)) return 0L
    // Every path referenced by ANY retained manifest — main's AND every
    // branch's (a file written on a branch is referenced only there until
    // publish; sweeping it would destroy the branch). Data files are
    // referenced per part-file; delete files are referenced by directory.
    //
    // DISTRIBUTED sweep (Iceberg's remove_orphan_files action shape): the
    // driver holds only chunk PATHS + inline/delete refs (O(chunks +
    // versions)); chunk entries resolve executor-side (ChunkJson), the data
    // dir is listed in parallel (one task per commit directory), and the
    // reference anti-join is a Spark job — at 10⁷ files neither the
    // reference set nor the listing ever materializes on the driver. Only
    // the ORPHAN list (normally tiny) is collected, for deletion.
    val chunkPaths = scala.collection.mutable.LinkedHashSet.empty[String]
    val directRefs = scala.collection.mutable.HashSet.empty[String]
    // Every listed manifest counts, claims ahead of the pointer included: an
    // in-flight commit's files must survive.
    def collect(t: TransactionalTable): Unit =
      t.commitIo.versions(t.manifestDir).foreach { v =>
        val s = t.snapshotAt(v)
        s.files match {
          case mf: ManifestFiles => mf.chunks.foreach(c => chunkPaths += c.path)
          case sq => sq.foreach(f => directRefs += f.path)
        }
        s.deletes.foreach(d => directRefs += d.path)
      }
    collect(this)
    listBranches.foreach(b => collect(branch(b)))
    import spark.implicits._
    val refDf = {
      val fromChunks =
        if (chunkPaths.isEmpty) spark.emptyDataset[String].toDF("ref")
        else spark.sparkContext
          .parallelize(chunkPaths.toSeq, math.min(64, chunkPaths.size))
          .flatMap(p => ChunkJson.parse(p).map(_.path)).toDF("ref")
      fromChunks.unionByName(directRefs.toSeq.toDF("ref")).distinct()
    }
    // parallel listing, one shard per top-level entry of the data dir
    // (per-attempt commit directories — O(versions·attempts), driver-safe)
    val top = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.map(_.toString).toVector finally s.close()
    }
    if (top.isEmpty) return 0L
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dataDirStr = dataDir.toString
    val candidates = spark.sparkContext
      .parallelize(top, math.min(64, top.size))
      .flatMap { d =>
        import scala.jdk.CollectionConverters._
        import java.nio.file.{Files => NF}
        val p = java.nio.file.Paths.get(d)
        val files =
          if (NF.isRegularFile(p)) Vector(p)
          else {
            val w = NF.walk(p)
            try w.iterator().asScala.filter(NF.isRegularFile(_)).toVector
            finally w.close()
          }
        files.iterator
          .filter(f => NF.getLastModifiedTime(f).toMillis < cutoff)
          .map { f =>
            // the path + every ancestor dir inside the data dir: a file is
            // referenced directly (data part) or via its directory (delete
            // files are referenced by dir). A Hadoop checksum sidecar
            // `.<name>.crc` is referenced exactly when `<name>` is.
            val name = f.getFileName.toString
            val owner =
              if (name.startsWith(".") && name.endsWith(".crc") && name.length > 5)
                f.resolveSibling(name.substring(1, name.length - 4))
              else f
            val probes = Iterator.iterate(owner)(_.getParent)
              .takeWhile(a => a != null && a.toString.startsWith(dataDirStr) &&
                a.toString != dataDirStr)
              .map(_.toString).toSeq
            (f.toString, probes)
          }
      }.toDF("path", "probes")
    val referenced = candidates
      .select(col("path"), explode(col("probes")).as("ref"))
      .join(refDf, Seq("ref"), "left_semi")
      .select("path").distinct()
    val doomed = candidates.join(referenced, Seq("path"), "left_anti")
      .select("path").as[String].collect()
    var deleted = 0L
    doomed.foreach { p =>
      if (Files.deleteIfExists(Paths.get(p))) deleted += 1
    }
    // sweep now-empty ancestor dirs of the deleted files (bottom-up; bounded
    // by deletions — no second full walk)
    val parents = doomed.iterator
      .flatMap(p => Iterator.iterate(Paths.get(p).getParent)(_.getParent)
        .takeWhile(a => a != null && a.startsWith(dataDir) && a != dataDir))
      .toSeq.distinct.sortBy(-_.getNameCount)
    parents.foreach { d =>
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        val empty = try !s.iterator().hasNext finally s.close()
        if (empty) Files.deleteIfExists(d)
      }
    }
    deleted
  }

  /** Snapshot history (Iceberg's `table.snapshots` + snapshot-summary
    * parity), manifest-only: one row per committed version with its fencing
    * batchId, stats, and the per-commit CHURN — files/rows added and removed
    * vs the previous retained version, derived by diffing the two manifests
    * (file lists are already in memory; nothing new is stored). A CoW merge
    * shows its rewrite amplification here; a MOR merge shows added files
    * plus pending delete-file count; compaction shows removed ≈ added. */
  def history(): DataFrame = {
    import spark.implicits._
    // expired versions are gone; one manifest read serves the snapshot and
    // its operation stamp
    val nodes = committedVersions.map(manifest)
    val snaps = nodes.map(snapshotOf)
    // per-version churn by CHUNK diffing (see MetadataTables.history):
    // shared chunks contribute nothing, only chunks unique to one side of a
    // version pair load — O(churn) per pair, never O(files); totals answer
    // from chunk stats.
    def sideOnly(a: Seq[DataFile], b: Seq[DataFile]): (Seq[DataFile], Seq[DataFile]) =
      (a, b) match {
        case (am: ManifestFiles, bm: ManifestFiles) =>
          val aP = am.chunks.map(_.path).toSet
          val bP = bm.chunks.map(_.path).toSet
          (am.loadWhere(c => !bP.contains(c.path)), bm.loadWhere(c => !aP.contains(c.path)))
        case _ => (a, b)
      }
    def totals(fs: Seq[DataFile]): (Long, Long) = fs match {
      case mf: ManifestFiles =>
        (mf.totalBytes.getOrElse(mf.iterator.map(_.bytes).sum),
          mf.totalRows.getOrElse(mf.iterator.map(_.rows).sum))
      case s => (s.iterator.map(_.bytes).sum, s.iterator.map(_.rows).sum)
    }
    snaps.zipWithIndex.map { case (s, i) =>
      val (bytes, rowsTotal) = totals(s.files)
      val (addedN, addedRows, removedN, removedRows) =
        if (i == 0) (s.files.size.toLong, rowsTotal, 0L, 0L)
        else {
          val (pOnly, cOnly) = sideOnly(snaps(i - 1).files, s.files)
          val pPaths = pOnly.map(_.path).toSet
          val cPaths = cOnly.map(_.path).toSet
          val added = cOnly.filterNot(f => pPaths(f.path))
          val removed = pOnly.filterNot(f => cPaths(f.path))
          (added.size.toLong, added.map(_.rows).sum,
            removed.size.toLong, removed.map(_.rows).sum)
        }
      (s.version, s.batchId, opOf(nodes(i)).orNull,
        s.files.size.toLong, s.rowCount, bytes,
        addedN, addedRows, removedN, removedRows, s.deletes.size.toLong)
    }.toDF("version", "batch_id", "operation", "n_files", "n_rows", "n_bytes",
      "added_files", "added_rows", "removed_files", "removed_rows", "n_delete_files")
  }

  /** Snapshot-summary OPERATION of a committed version (Iceberg snapshot
    * summary parity — merge/append/compact/rollback/…); None for manifests
    * written before the stamp existed. */
  def operationOf(version: Long): Option[String] = manifestNode(version).flatMap(opOf)

  private def opOf(node: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Option(node.get("op")).map(_.asText())

  /**
   * MERGE a micro-batch: `upserts` are full rows (insert-or-update images),
   * `deleteKeys` needs only the PK column. Copy-on-write limited to files whose
   * PK range can contain a touched key.
   */
  def merge(upserts: DataFrame, deleteKeys: DataFrame, batchId: Long,
      mode: MergeMode = MergeMode.CopyOnWrite,
      /** When set, the merge is timestamp-GUARDED on this (table) column:
        * a source row only wins over the stored row if its ts is not older
        * (fixes the reference's last-batch-wins late-data anomaly, SURVEY
        * §7.5.3). `deleteKeys` must then carry (pk, guardTs). Under MOR
        * modes the guard is resolved at write time against the pruned
        * current slice (guardWinners) — deletes themselves still mask
        * unconditionally, but only winning rows produce them. */
      guardTs: Option[String] = None,
      /** Fence domain: None = the table's global streaming fence (the CDC
        * pipeline's domain); Some(w) = this writer's OWN fence — independent
        * streams each replay-protect their own epoch sequence and never
        * fence each other out (Delta txnAppId semantics). A writer-fenced
        * commit leaves the global batchId untouched. */
      writerId: Option[String] = None,
      /** Additional fence-domain updates landing atomically with the commit
        * (per-source MV high-water marks) — see [[append]]. */
      extraFences: Map[String, Long] = Map.empty): Unit = synchronized {
    retryingCommit("merge") { snap =>
      // T4: replayed batch — already committed (re-checked on every retry:
      // the concurrent winner may have been this very batch's other attempt)
      val fenced = writerId match {
        case Some(w) => batchId <= snap.writerFences.getOrElse(w, -1L)
        case None => batchId <= snap.batchId
      }
      if (!fenced) {
        pendingWriterFence = writerId.map(_ -> batchId)
        pendingExtraFences = extraFences
        try doMerge(snap, upserts, deleteKeys,
          if (writerId.isDefined) snap.batchId else batchId, mode, guardTs)
        finally { pendingWriterFence = None; pendingExtraFences = Map.empty }
        pendingAutoCompact = true
      }
    }
    maybeAutoCompact()
  }

  /** Set when a merge/append actually committed (a FENCED replay must stay
    * version-stable: no maintenance commit may ride on a no-op replay);
    * consumed by [[maybeAutoCompact]]. Thread-confined like the other
    * pending flags (merge/append are synchronized). */
  private var pendingAutoCompact: Boolean = false

  /** Thread-confined (merge/append are synchronized and commit() runs on the
    * calling thread): the per-writer fence update the in-flight commit must
    * persist. Cleared in the caller's finally. */
  private var pendingWriterFence: Option[(String, Long)] = None

  /** Thread-confined companion: additional fence-domain updates (per-source
    * MV high-water marks) the in-flight commit persists atomically with the
    * data. Cleared in the caller's finally. */
  private var pendingExtraFences: Map[String, Long] = Map.empty

  /** Thread-confined twin: the parent snapshot's fence map, set by
    * retryingCommit around each attempt so commit() inherits without a
    * second manifest read. */
  private var pendingParentFences: Option[Map[String, Long]] = None

  /**
   * Optimistic-concurrency driver for every mutation: run `body` against the
   * freshest snapshot; if the commit loses the race to another writer
   * (pointer advanced or an in-flight manifest holds our target version),
   * reload and RECOMPUTE against the new snapshot, with jittered backoff.
   * Recompute-from-scratch (rather than metadata rebase) is what makes
   * retries unconditionally serializable: the second attempt sees the
   * winner's rows, so key-overlapping writers land in some serial order —
   * the same contract Iceberg's commit-retry loop provides over a real lock
   * service; here the CREATE_NEW manifest claim is the lock.
   */
  private def retryingCommit(opName: String)(body: Snapshot => Unit): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        val snap = snapshot
        // Hand the parent's writer-fence map to commit() so it never has to
        // re-read the parent manifest (every mutation path builds its new
        // Snapshot without fences; inheritance happens at commit).
        pendingParentFences = Some(snap.writerFences)
        pendingOp = Some(opName) // snapshot-summary operation stamp
        try { body(snap); done = true }
        finally {
          pendingOp = None
          pendingParentFences = None
          // A commit can throw BEFORE planChunks consumes the chunk hint
          // (the version pre-check, the CREATE_NEW race) — a hint left over
          // from an aborted attempt must never leak into a different
          // commit's chunk planning.
          pendingChunkHint = None
          pendingRepack = false
          pendingReplaceStamp = false
          // Same leak shape for the row-id reservation: an exception between
          // writeDataFiles (which set it) and commit() (which consumes it)
          // must not advance an unrelated commit's high-water mark.
          pendingNextRowId = None
          pendingWroteShredSpec = None // same: never judge an unrelated commit
        }
      }
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > MaxCommitRetries) throw new ConcurrentCommitException(
            s"$opName gave up after $MaxCommitRetries retries (root=$root): ${e.getMessage}")
          Thread.sleep(CommitRetryBackoffMs * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(CommitRetryBackoffMs))
      }
    }
  }

  /**
   * MERGE outside the stream: same row-level semantics as [[merge]], but the
   * commit PRESERVES the snapshot's `batchId` instead of consuming one — an
   * ad-hoc SQL `MERGE INTO` must not advance the replay fence past a
   * checkpointed stream's next batch, or the stream's resume would be
   * silently fenced out as a replay.
   */
  def mergeAdhoc(upserts: DataFrame, deleteKeys: DataFrame,
      mode: MergeMode = MergeMode.CopyOnWrite,
      guardTs: Option[String] = None,
      expectedVersion: Option[Long] = None): Unit = synchronized {
    retryingCommit("mergeAdhoc") { snap =>
      validateUnchanged(snap, expectedVersion, "MERGE/DELETE/UPDATE")
      doMerge(snap, upserts, deleteKeys, snap.batchId, mode, guardTs)
      pendingAutoCompact = true
    }
    maybeAutoCompact()
  }

  /** Serializable-isolation gate (Iceberg validation parity): a write whose
    * SOURCE reads this table pins the file list at analysis; if the table
    * advanced since, a blind retry would commit data computed from a stale
    * snapshot — a silent lost update. Fail loudly instead; the caller
    * re-runs the statement against the live state. Writes with independent
    * sources pass `None` and keep the recompute-and-retry behavior (their
    * retry closures re-derive everything from the fresh snapshot). */
  private def validateUnchanged(snap: Snapshot, expectedVersion: Option[Long],
      op: String): Unit =
    expectedVersion.foreach { ev =>
      if (snap.version != ev) throw new CommitConflictException(
        s"$op: serializable validation failed — the source was computed against " +
          s"snapshot v$ev but the table is now at v${snap.version} (a concurrent " +
          s"commit landed); re-run the statement (root=$root)")
    }

  private def doMerge(snap: Snapshot, upserts: DataFrame, deleteKeys: DataFrame,
      batchId: Long, mode: MergeMode, guardTs: Option[String]): Unit = {
    // Null-PK rows are dropped here by policy (defense in depth — the pipeline
    // already filters and counts them): a malformed CDC envelope must degrade
    // to an observable drop, not an NPE that wedges the stream on replay.
    val pkNotNull = pkCols.map(col(_).isNotNull).reduce(_ && _)
    val up = conformed(upserts).filter(pkNotNull)
    guardTs.foreach { ts =>
      require(schema.fieldNames.contains(ts), s"guard column $ts not in table schema")
      require(pkCols.length == 1,
        "timestamp-guarded merge supports single-column primary keys only")
    }
    val dels = guardTs match {
      case Some(ts) => deleteKeys.select(col(pk), col(ts)).filter(pkNotNull)
      case None => deleteKeys.select(pkCols.map(col): _*).filter(pkNotNull)
    }
    (mode, guardTs) match {
      case (MergeMode.CopyOnWrite, _) => mergeCow(snap, up, dels, batchId, guardTs)
      case (_, Some(ts)) =>
        // Guarded merge-on-read: MOR equality deletes mask unconditionally by
        // construction, so the guard must be resolved at WRITE time — read the
        // matched keys' current guard column (PK-range-pruned files only, the
        // same pruned read the positional path pays) and keep only source
        // rows that win. The surviving winners then follow the plain MOR path.
        val (winUp, winDels) = guardWinners(snap, up, dels, ts)
        mode match {
          case MergeMode.MergeOnRead => mergeMor(snap, winUp, winDels, batchId)
          case MergeMode.MergeOnReadVector => mergeMorVector(snap, winUp, winDels, batchId)
          case _ => mergeMorPositional(snap, winUp, winDels, batchId)
        }
      case (MergeMode.MergeOnRead, None) => mergeMor(snap, up, dels, batchId)
      case (MergeMode.MergeOnReadPositional, None) =>
        mergeMorPositional(snap, up, dels, batchId)
      case (MergeMode.MergeOnReadVector, None) =>
        mergeMorVector(snap, up, dels, batchId)
    }
  }

  /** Timestamp-guard resolution for merge-on-read: split the batch into rows
    * that WIN against the stored row (same algebra as Merge.applyGuarded —
    * a source/delete row wins when the key is absent, the stored guard is
    * null, or its own non-null guard is >= the stored one). Reads only the
    * PK-range∧bloom-pruned slice of the table, delete-aware, so cost is
    * O(files containing batch keys), not O(table). */
  private def guardWinners(snap: Snapshot, up: DataFrame, dels: DataFrame,
      ts: String): (DataFrame, DataFrame) = {
    val keyDf = up.select(col(pk)).unionByName(dels.select(col(pk))).distinct()
    val (affected, oversized) = affectedFiles(snap, keyDf.select(keyExpr))
    val curRaw = scanWithDeletes(affected, snap.deletes)
      .select(col(pk).as("_cpk"), col(ts).as("_cts"))
    // Post-merge invariant: ≤1 live row per key, so no dedup needed here.
    val cur = if (oversized) curRaw else broadcast(curRaw)
    def winners(side: DataFrame, sideTs: org.apache.spark.sql.Column): DataFrame =
      side.join(cur, col(pk) === col("_cpk"), "left_outer")
        .filter(col("_cpk").isNull ||
          (sideTs.isNotNull && (col("_cts").isNull || sideTs >= col("_cts"))))
        .drop("_cpk", "_cts")
    (winners(up, col(ts)), winners(dels, col(ts)))
  }

  /** Files of `snap` that can contain any of the batch's keys, plus whether
   *  the key set blew past the collect cap (→ callers should not broadcast).
   *  Exact key-set pruning under the cap; [min,max]-range pruning past it.
   *  Chunked manifests prune at CHUNK granularity first (the chunk's pk
   *  range must overlap the keys before any of its entries is loaded) — a
   *  merge against a 10⁷-file table plans over the few chunks its keys can
   *  live in, not the whole manifest. */
  private def affectedFiles(snap: Snapshot, keyDf: DataFrame): (Seq[DataFile], Boolean) = {
    def candidates(keep: ChunkRef => Boolean): Seq[DataFile] = snap.files match {
      case mf: ManifestFiles => mf.loadWhere(keep)
      case s => s
    }
    val keys = graft.util.JobLabel.labeled(spark, s"merge:plan-keys $root") {
      keyDf.limit(MaxCollectedKeys + 1).collect()
    }.map(_.getLong(0))
    val oversized = keys.length > MaxCollectedKeys
    val affected =
      if (keys.isEmpty) Seq.empty[DataFile]
      else if (oversized) {
        val Array(lo, hi) = keyDf.agg(min(keyDf.columns.head), max(keyDf.columns.head))
          .collect().head match { case r => Array(r.getLong(0), r.getLong(1)) }
        candidates(c => c.pkMax >= lo && c.pkMin <= hi)
          .filter(f => f.pkMax >= lo && f.pkMin <= hi)
      } else {
        val sorted = keys.sorted
        candidates(c => overlaps(sorted, c.pkMin, c.pkMax)).filter { f =>
          overlaps(sorted, f.pkMin, f.pkMax) && (f.bloom match {
            // Bloom refinement: range overlap alone keeps every file once CDC
            // churn has spread each file's [min,max] across the key domain;
            // the bitset knocks out files that contain none of the keys.
            case Some(b64) =>
              val words = bloomWords(b64)
              keysInRange(sorted, f.pkMin, f.pkMax).exists(bloomContains(words, _))
            case None => true
          })
        }
      }
    (affected, oversized)
  }

  private def mergeCow(snap: Snapshot, up: DataFrame, dels: DataFrame, batchId: Long,
      guardTs: Option[String] = None): Unit = {
    // Touched-key set. A CDC micro-batch is bounded by the trigger interval and
    // post-W1 has ≤1 row/key, so collecting keys is driver-safe (cap guarded);
    // past the cap we degrade to min/max-range pruning only.
    val keyDf = up.select(keyExpr.as("_k"))
      .unionByName(dels.select(keyExpr.as("_k")))
      .distinct()
    val (affected, oversized) = affectedFiles(snap, keyDf)

    // Pending MOR deletes must be applied to the rewritten slice, or a merge
    // would resurrect masked rows.
    val lineage = rowLineageEnabled
    val slice = scanWithDeletes(affected, snap.deletes, withLineage = lineage)
    // Row lineage through CoW (Iceberg v3 MERGE semantics): carried rows keep
    // their materialized `_rid`/`_lseq` (the slice computed them); an UPDATE
    // keeps the target row's id but leaves `_lseq` NULL so it inherits the
    // new commit's `_seq`; an INSERT leaves both NULL (id inherited from the
    // new file's firstRowId). The id hand-off is one hash join of the small
    // batch against the already-being-rewritten slice's (pk, _rid).
    val upl =
      if (!lineage) up
      else {
        // Two broadcast-shaped steps (an outer join can never build its
        // preserved small side): semi-filter the slice to the batch's keys
        // — output ≤ |batch| rows — then broadcast THAT into the left join.
        val inh = slice.select((pkCols.map(col) :+ col("_rid").as("_inh_rid")): _*)
        val keys = up.select(pkCols.map(col): _*)
        val matched = inh.join(if (oversized) keys else broadcast(keys),
          pkCols, "left_semi")
        up.join(if (oversized) matched else broadcast(matched), pkCols, "left")
          .withColumn("_rid", col("_inh_rid")).drop("_inh_rid")
          .withColumn("_lseq", lit(null).cast("long"))
      }
    // A key set past the collect cap is also past sensible broadcast size —
    // let Catalyst/AQE pick the join strategy there instead.
    val merged = guardTs match {
      case Some(ts) => Merge.applyGuarded(slice, upl, dels, pk, ts, broadcastKeys = !oversized)
      case None if pkCols.length > 1 =>
        Merge.composite(slice, upl, dels, pkCols, broadcastKeys = !oversized)
      case None => Merge(slice, upl, dels, pk, broadcastKeys = !oversized)
    }

    val newVersion = snap.version + 1
    val newFiles = writeDataFiles(merged, commitDir(newVersion), seq = newVersion)

    // Carried files stay LAZY for chunked manifests: clean chunks (pk range
    // disjoint from every rewritten file) ride by reference; only dirty
    // chunks load — commit metadata cost is O(churn), not O(table).
    val affectedPaths = affected.map(_.path).toSet
    val carried = snap.files match {
      case mf: ManifestFiles => mf.withoutLazy(affectedPaths,
        c => affected.exists(f => f.pkMax >= c.pkMin && f.pkMin <= c.pkMax))
      case s => s.filterNot(f => affectedPaths.contains(f.path))
    }
    // delete files are carried: they may still mask carried data files
    // (rewritten files got a fresh seq and are immune)
    pendingChunkHint = Some((affected, newFiles))
    commit(Snapshot(newVersion, batchId, new AppendedFiles(carried, newFiles),
      snap.deletes))
  }

  /** Merge-on-read: write the batch as new data + one equality-delete file;
    * no existing file is rewritten — the anti-join happens at scan time. */
  private def mergeMor(snap: Snapshot, up: DataFrame, dels: DataFrame, batchId: Long): Unit = {
    val newVersion = snap.version + 1
    // every batch key masks older images: upserted keys (superseded) and
    // deleted keys (removed)
    val keyDf = up.select(pkDeleteCols: _*)
      .unionByName(dels.select(pkDeleteCols: _*)).distinct()
    val delFile = writeDeleteFile(keyDf, commitDir(newVersion, "_deletes"), newVersion)
    val newFiles = writeDataFiles(up, commitDir(newVersion), seq = newVersion)
    pendingChunkHint = Some((Seq.empty, newFiles))
    commit(Snapshot(newVersion, batchId, new AppendedFiles(snap.files, newFiles),
      snap.deletes ++ delFile.toSeq))
  }

  /** Merge-on-read with positional deletes: resolve each masked row to its
    * (file, ordinal) now — reading only PK-range-pruned files — so the scan
    * side pays a key-free (file, pos) anti-join instead of an equality join.
    * Every batch key masks its older images: upserted keys are superseded by
    * the batch's new data file, deleted keys are removed. Re-masking a row an
    * earlier delete file already masks just duplicates a (file, pos) entry —
    * the anti-join is idempotent. */
  private def mergeMorPositional(snap: Snapshot, up: DataFrame, dels: DataFrame,
      batchId: Long): Unit = {
    val newVersion = snap.version + 1
    val delFile = maskedPositions(snap, up, dels).flatMap(positions =>
      writeDeleteFile(positions, commitDir(newVersion, "_deletes"), newVersion,
        kind = DeleteFile.Position))
    val newFiles = writeDataFiles(up, commitDir(newVersion), seq = newVersion)
    pendingChunkHint = Some((Seq.empty, newFiles))
    commit(Snapshot(newVersion, batchId, new AppendedFiles(snap.files, newFiles),
      snap.deletes ++ delFile.toSeq))
  }

  /** (file, row-ordinal) of every stored row a batch's keys mask — the shared
    * write-time resolution of the positional and vector MOR paths, reading
    * only PK-range∧bloom-pruned files. None when no stored file can hold a
    * batch key. */
  private def maskedPositions(snap: Snapshot, up: DataFrame, dels: DataFrame)
      : Option[DataFrame] = {
    val mkCols = pkCols.map(c => s"_mk_$c")
    val keyDf = up.select(pkCols.zip(mkCols).map { case (c, m) => col(c).as(m) }: _*)
      .unionByName(dels.select(pkCols.zip(mkCols).map { case (c, m) => col(c).as(m) }: _*))
      .distinct()
    val mkKeyExpr = if (pkHashed) xxhash64(mkCols.map(col): _*) else col(mkCols.head).cast("long")
    val (affected, oversized) = affectedFiles(snap, keyDf.select(mkKeyExpr))
    if (affected.isEmpty) None
    else {
      val keysSide = if (oversized) keyDf else broadcast(keyDf)
      val keyCond = pkCols.zip(mkCols).map { case (c, m) => col(c) === col(m) }.reduce(_ && _)
      Some(spark.read.schema(schema).parquet(affected.map(_.path): _*)
        .select(pkCols.map(col) ++ Seq(
          col("_metadata.file_path").as("_dfile"),
          col("_metadata.row_index").as("_dpos")): _*)
        .join(keysSide, keyCond)
        .select("_dfile", "_dpos"))
    }
  }

  /** Merge-on-read with DELETION VECTORS (Iceberg v3): the same write-time
    * position resolution as [[mergeMorPositional]], but the masked ordinals
    * land as one roaring-style bitmap per target data file. A target that
    * already carries a DV gets old ∪ new and its superseded entry is dropped
    * in the same commit — at most one delete artifact per file, ever, so
    * scan cost never grows with merge count (v2 positional files accrete one
    * per commit until folded).
    *
    * Per-file bitmaps are built executor-side (grouped by target; bounded by
    * rows-per-file — the same bound any DV writer has) and only the
    * serialized blobs collect: O(affected files × blob), the driver
    * footprint Iceberg's DV commit coordination pays. */
  private def mergeMorVector(snap: Snapshot, up: DataFrame, dels: DataFrame,
      batchId: Long): Unit = {
    val newVersion = snap.version + 1
    val perFile: Seq[(String, Array[Byte])] = maskedPositions(snap, up, dels) match {
      case None => Seq.empty
      case Some(positions) =>
        positions.groupBy(col("_dfile")).agg(collect_list(col("_dpos")).as("_ps"))
          .rdd // per-partition imperative byte-packing, like the codec kernels
          .map(r => (r.getString(0),
            DeletionVector.fromPositions(r.getSeq[Long](1)).serialize))
          .collect().toSeq
    }
    val dvEntries: Seq[DeleteFile] =
      if (perFile.isEmpty) Seq.empty
      else {
        val existing: Map[String, DeleteFile] = snap.deletes
          .filter(_.kind == DeleteFile.Vector)
          .flatMap(d => d.target.map(_ -> d)).toMap
        val merged = perFile.sortBy(_._1).map { case (f, blob) =>
          val dv = DeletionVector.deserialize(blob)
          existing.get(f).foreach(old =>
            dv.orInPlace(DeletionVector.deserialize(readDvBlob(old))))
          f -> dv
        }
        writeDvFile(merged, commitDir(newVersion, "_deletes"))
      }
    val superseded = dvEntries.flatMap(_.target).toSet
    val newFiles = writeDataFiles(up, commitDir(newVersion), seq = newVersion)
    pendingChunkHint = Some((Seq.empty, newFiles))
    commit(Snapshot(newVersion, batchId, new AppendedFiles(snap.files, newFiles),
      snap.deletes.filterNot(d =>
        d.kind == DeleteFile.Vector && d.target.exists(superseded)) ++ dvEntries))
  }

  /** Write every (target, bitmap) blob of a commit into ONE physical DV file
    * (the puffin-file shape) and return the per-target manifest entries.
    * Targets are written in sorted order — the file bytes are a pure
    * function of the delete set, so a replayed commit is byte-stable. */
  private def writeDvFile(dvs: Seq[(String, DeletionVector)], dir: Path)
      : Seq[DeleteFile] = {
    Files.createDirectories(dir)
    val path = dir.resolve("deletes.dv")
    val out = Files.newOutputStream(path,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      var off = 0L
      dvs.map { case (target, dv) =>
        val blob = dv.serialize
        out.write(blob)
        val entry = DeleteFile(path.toString, Long.MinValue, Long.MaxValue,
          dv.cardinality, blob.length.toLong, DeleteFile.Vector,
          Some(target), off, blob.length.toLong)
        off += blob.length
        entry
      }
    } finally out.close()
  }

  /** Read one DV entry's blob slice out of its (possibly shared) file. */
  private def readDvBlob(d: DeleteFile): Array[Byte] = {
    val ch = Files.newByteChannel(Paths.get(d.path))
    try {
      ch.position(d.offset)
      val buf = java.nio.ByteBuffer.allocate(d.length.toInt)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      require(!buf.hasRemaining,
        s"truncated deletion vector ${d.path} @${d.offset}+${d.length}")
      buf.array()
    } finally ch.close()
  }

  /**
   * Schema evolution (ALTER TABLE ... ADD COLUMN parity — Iceberg's most
   * common evolution; the reference composes it implicitly via Iceberg table
   * metadata): append a nullable column to the table schema. Zero data
   * movement — files written before the evolution simply lack the column,
   * and every read path already supplies the table schema explicitly, so the
   * Parquet readers null-fill it (the same trick Iceberg's schema-id
   * resolution performs). Old snapshots stay time-travelable (read with the
   * unified schema, new column null). Returns the evolved table handle —
   * this instance keeps its pre-evolution schema.
   */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): TransactionalTable =
    addColumn(name, dataType, org.apache.spark.sql.types.Metadata.empty)

  /** [[addColumn]] carrying column METADATA — the vehicle for Iceberg v3
    * default values: `CURRENT_DEFAULT` (the write-default Spark's INSERT
    * resolution serves for omitted columns) and `EXISTS_DEFAULT` (the
    * initial-default the parquet readers serve for files written BEFORE the
    * column existed — the reader knows column PRESENCE, so a genuine NULL
    * in a post-add file is never confused with absence). Both keys ride in
    * the schema JSON (`_table.json` + per-version manifest stamps), so time
    * travel serves each era's defaults. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      metadata: org.apache.spark.sql.types.Metadata): TransactionalTable =
    synchronized {
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column '$name' already exists")
      // Reusing a FORMER name of a live column would resurrect the old bytes
      // still sitting in pre-rename files into the "new" column.
      require(!renames.valuesIterator.flatten.exists(_.equalsIgnoreCase(name)),
        s"'$name' is a former name of an existing column (rename history); pick another")
      val evolved = schema.add(org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true, metadata))
      writeTableMeta(root, evolved, pk, partitionSpec, renames, pastSpecs, currentSpecId, io = commitIo)
      new TransactionalTable(spark, root, evolved, pk, partitionSpec, renames,
        pastSpecs, currentSpecId, branchName)
    }

  /** `ALTER TABLE ... ALTER COLUMN c SET/DROP DEFAULT` (Iceberg v3
    * write-default semantics): updates only `CURRENT_DEFAULT` — what future
    * writes omitting the column get. The initial-default (`EXISTS_DEFAULT`,
    * what pre-add files read back) is FROZEN at ADD COLUMN time: changing
    * the write-default must never rewrite history. */
  def setColumnDefault(name: String, defaultSql: Option[String]): TransactionalTable =
    synchronized {
      val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0, s"column '$name' not in table schema")
      defaultSql.foreach(s =>
        spark.sessionState.sqlParser.parseExpression(s)) // fail fast on syntax
      val f = schema.fields(idx)
      val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
      defaultSql match {
        case Some(s) => mb.putString("CURRENT_DEFAULT", s)
        case None => mb.remove("CURRENT_DEFAULT")
      }
      val fields = schema.fields.updated(idx, f.copy(metadata = mb.build()))
      val evolved = StructType(fields)
      writeTableMeta(root, evolved, pk, partitionSpec, renames, pastSpecs, currentSpecId, io = commitIo)
      new TransactionalTable(spark, root, evolved, pk, partitionSpec, renames,
        pastSpecs, currentSpecId, branchName)
    }

  /**
   * ALTER TABLE ... DROP COLUMN — the mirror of [[addColumn]], zero data
   * movement: the column simply leaves the table schema, and every read
   * projects by schema, so files that still carry the bytes skip them at
   * scan. Snapshots committed BEFORE the drop keep the column when
   * time-traveled (each manifest records its commit-time schema —
   * [[schemaAt]]), matching Iceberg's schema-id semantics. The PK and the
   * partition column are load-bearing (pruning, delete keys, layout) and
   * cannot be dropped.
   */
  def dropColumn(name: String): TransactionalTable = synchronized {
    require(schema.fieldNames.exists(_.equalsIgnoreCase(name)), s"no such column '$name'")
    require(!pkCols.exists(_.equalsIgnoreCase(name)),
      s"cannot drop primary-key column '$name' (pk: $pk)")
    require(!partitionCol.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column '${partitionCol.get}'")
    val evolved = StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
    val prunedRenames = renames - name.toLowerCase(java.util.Locale.ROOT)
    writeTableMeta(root, evolved, pk, partitionSpec, prunedRenames, pastSpecs, currentSpecId, io = commitIo)
    new TransactionalTable(spark, root, evolved, pk, partitionSpec, prunedRenames,
      pastSpecs, currentSpecId, branchName)
  }

  /**
   * ALTER TABLE ... ALTER COLUMN TYPE — Iceberg type-promotion parity: the
   * lossless primitive widenings (byte/short/int→long chain, float→double).
   * Metadata-only, zero data movement: Spark 4's Parquet readers perform
   * widening type promotion at scan, so files written with the narrow
   * physical type read directly under the widened schema (the effect
   * Iceberg gets from its promotion rules at schema-id resolution).
   * Snapshots committed BEFORE the widen keep the narrow type under time
   * travel (per-snapshot schema stamps, [[schemaAt]]). Manifest column
   * stats already live in the Long domain, so file pruning is unaffected.
   * The PK and partition source column are load-bearing (delete-file key
   * schemas, partition-value derivation) and cannot be retyped.
   */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): TransactionalTable =
    synchronized {
      import org.apache.spark.sql.types._
      val f = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(s"no such column '$name'"))
      require(!pkCols.exists(_.equalsIgnoreCase(name)),
        s"cannot retype primary-key column '$name' (pk: $pk)")
      require(!partitionCol.exists(_.equalsIgnoreCase(name)),
        s"cannot retype partition column '${partitionCol.getOrElse("")}'")
      val widens = (f.dataType, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(widens,
        s"unsupported type change for '$name': ${f.dataType.simpleString} → " +
          s"${to.simpleString} (lossless widenings only: byte/short/int→long, float→double)")
      val evolved = StructType(schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(name)) x.copy(dataType = to) else x))
      writeTableMeta(root, evolved, pk, partitionSpec, renames, pastSpecs, currentSpecId, io = commitIo)
      new TransactionalTable(spark, root, evolved, pk, partitionSpec, renames,
        pastSpecs, currentSpecId, branchName)
    }

  /**
   * ALTER TABLE ... RENAME COLUMN — metadata-only, zero data movement (the
   * effect Iceberg gets from field-id name mapping): the live schema swaps
   * the name, and reads bridge files still carrying the old name by reading
   * both and coalescing ([[readParquet]] — a pre-rename file populates
   * exactly one of the two). Snapshots committed BEFORE the rename keep the
   * old name under time travel (per-snapshot schema stamps, [[schemaAt]]).
   * The PK and partition column are load-bearing names (manifest stats,
   * delete-file keys, directory layout) and cannot be renamed. Manifest
   * column stats keyed under the old name simply stop matching SQL
   * predicates on the new name — pruning degrades conservatively for
   * pre-rename files and returns as they are rewritten.
   */
  def renameColumn(from: String, to: String): TransactionalTable = synchronized {
    require(schema.fieldNames.exists(_.equalsIgnoreCase(from)), s"no such column '$from'")
    require(!pkCols.exists(_.equalsIgnoreCase(from)),
      s"cannot rename primary-key column '$from' (pk: $pk)")
    require(!partitionCol.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column '${partitionCol.getOrElse("")}'")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)), s"column '$to' already exists")
    require(!renames.valuesIterator.flatten.exists(_.equalsIgnoreCase(to)),
      s"'$to' is a former name of an existing column (rename history); pick another")
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val evolved = StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f))
    // Former-name chain carries over: a→b→c keeps [b, a] so files from every
    // era still resolve.
    val olds = from +: renames.getOrElse(lc(from), Seq.empty)
    val newRenames = (renames - lc(from)) + (lc(to) -> olds)
    writeTableMeta(root, evolved, pk, partitionSpec, newRenames, pastSpecs, currentSpecId, io = commitIo)
    new TransactionalTable(spark, root, evolved, pk, partitionSpec, newRenames,
      pastSpecs, currentSpecId, branchName)
  }

  /**
   * PARTITION EVOLUTION (Iceberg spec-evolution parity): change how FUTURE
   * files are partitioned — metadata-only, zero data movement. Existing files
   * keep the partition values (and directory layout) of the spec they were
   * written under; each file's manifest entry carries its spec id, and every
   * prune path reverses the file's OWN transform ([[specOf]]) — a predicate
   * is never tested against a partition value a different transform derived.
   * Files written under older specs simply prune less precisely until
   * [[compact]]/[[compactClustered]] rewrites them (rewrites stamp the
   * current spec — compaction doubles as spec migration, like Iceberg's
   * rewrite_data_files). Pass None to stop partitioning new writes.
   */
  def evolvePartitioning(next: Option[PartitionTransform]): TransactionalTable =
    synchronized {
      next.foreach { spec =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(spec.col)),
          s"partition column '${spec.col}' not in table schema")
        spec match {
          case _: PartitionTransform.Days | _: PartitionTransform.Hours =>
            require(schema(spec.col).dataType == org.apache.spark.sql.types.TimestampType,
              s"temporal partition transform needs a timestamp column, " +
                s"'${spec.col}' is ${schema(spec.col).dataType.simpleString}")
          case _ => ()
        }
      }
      val nextId = (allSpecs.keySet + currentSpecId).max + 1
      val past = allSpecs // old current becomes a past spec
      writeTableMeta(root, schema, pk, next, renames, past, nextId, io = commitIo)
      new TransactionalTable(spark, root, schema, pk, next, renames, past, nextId, branchName)
    }

  /** Iceberg `write.distribution-mode` parity: how rows are CLUSTERED to
    * tasks before a data-file write. `none` (the default) writes each task's
    * rows where they sit — a batch spanning P partition values across T
    * tasks can fan out to T×P small files, fine for streaming micro-batches
    * (small churn, no extra shuffle per trigger) but the small-files problem
    * at bulk scale. `hash` shuffles on the partition-transform value so each
    * value is written by exactly one task — one file per partition value per
    * commit. `range` range-shuffles on (partition value, pk): hot partition
    * values stay splittable across tasks AND every file covers a disjoint
    * key range, the tightest stats for read-side pruning. Table metadata
    * (`_table.json`, shared by all handles including branches); settable via
    * `ALTER TABLE graft.db.t SET TBLPROPERTIES('write.distribution'='hash')`. */
  def setWriteDistribution(mode: String): Unit = synchronized {
    require(Set("none", "hash", "range")(mode),
      s"write.distribution must be none|hash|range, got '$mode'")
    updateTableMeta(_.put("writeDistribution", mode))
  }

  /** Current write-distribution mode (see [[setWriteDistribution]]). */
  def writeDistribution: String =
    tableMeta.filter(_.has("writeDistribution"))
      .map(_.get("writeDistribution").asText()).getOrElse("none")

  /** Iceberg `write.merge.mode` / `write.delete.mode` / `write.update.mode`
    * parity: the physical MERGE strategy each SQL row-level statement uses.
    * `copy-on-write` (the default) rewrites PK-affected files at commit;
    * `merge-on-read` defers to scan-time equality deletes;
    * `merge-on-read-positional` / `merge-on-read-vector` are the engine's
    * v2-positional and v3-deletion-vector shapes. Per-operation so a table
    * can, e.g., keep MERGE read-optimized while high-churn DELETEs go
    * write-optimized — exactly Iceberg's property split. Settable via
    * `ALTER TABLE t SET TBLPROPERTIES('write.delete.mode'='merge-on-read')`. */
  def setRowLevelMode(op: String, mode: String): Unit = synchronized {
    require(TransactionalTable.RowLevelOps(op),
      s"row-level op must be merge|delete|update, got '$op'")
    TransactionalTable.parseMergeModeName(mode) // validates
    updateTableMeta(m =>
      if (mode == "copy-on-write") { m.remove(TransactionalTable.rowLevelKey(op)); () }
      else m.put(TransactionalTable.rowLevelKey(op), mode))
  }

  /** The [[MergeMode]] SQL row-level statements of kind `op` should commit
    * with (see [[setRowLevelMode]]); CopyOnWrite when unset. */
  def rowLevelMode(op: String): MergeMode =
    TransactionalTable.parseMergeModeName(rowLevelModeName(op))

  /** Content-validated cache of the parsed `_table.json`. The writer-
    * behavior flags (rowLineageEnabled, parquetBloomCols, sortOrder, write
    * modes, …) are consulted on every scan/merge/compaction/write, and
    * JSON-parsing the file per call put repeated driver-side object churn
    * on hot paths for values that change only via explicit ALTER. The file
    * is tiny (~1 KiB): each call re-reads the raw bytes and byte-compares
    * against the cache — exact (immune to mtime granularity / same-size
    * rewrites, unlike a stat-based check) — and re-parses only on change.
    * Only ABSENCE maps to None; a corrupt or unreadable file propagates —
    * silently degrading to defaults would drop declared write modes /
    * shred specs and produce wrong data, not a crash. */
  @volatile private var metaCache:
      (Array[Byte], com.fasterxml.jackson.databind.JsonNode) = null
  private def tableMeta: Option[com.fasterxml.jackson.databind.JsonNode] =
    commitIo.readIfExists(Paths.get(root, "_table.json")).map { bytes =>
      val c = metaCache
      if (c != null && java.util.Arrays.equals(c._1, bytes)) c._2
      else {
        val node = mapper.readTree(bytes)
        metaCache = (bytes, node)
        node
      }
    }

  /** The stored SQL-facing mode name for `op` (`copy-on-write` when unset). */
  def rowLevelModeName(op: String): String = {
    require(TransactionalTable.RowLevelOps(op),
      s"row-level op must be merge|delete|update, got '$op'")
    val key = TransactionalTable.rowLevelKey(op)
    tableMeta.filter(_.has(key)).map(_.get(key).asText()).getOrElse("copy-on-write")
  }

  /** Iceberg v3 ROW LINEAGE switch (`TBLPROPERTIES('row.lineage'='true')`):
    * once on, every commit records a table-level next-row-id high-water mark
    * and each new data file gets a contiguous `firstRowId` range, so every
    * row has a stable `_row_id` (inherited as firstRowId + ordinal unless a
    * rewrite materialized it) and a `_last_updated_seq` (the commit sequence
    * that last changed the row).
    *
    * Enabling on a non-empty table runs ONE metadata-only upgrade commit
    * that assigns every EXISTING file its `firstRowId` range (Iceberg's v3
    * upgrade posture): pre-upgrade rows acquire ids at enable time. This is
    * what keeps the inheritance read sound — after the upgrade, a NULL
    * materialized `_rid` in a rewritten file can only mean "row new to that
    * file, inherit firstRowId + ordinal"; without it, a compaction of
    * pre-upgrade rows would materialize NULL ids that the coalesce then
    * silently re-invents as fresh ids (spurious changelog churn). The
    * upgrade loads + repacks the full manifest — O(files) metadata, once.
    * Turning lineage off again is refused: readers may have recorded ids. */
  def setRowLineage(on: Boolean): Unit = synchronized {
    require(on || !rowLineageEnabled,
      "row.lineage cannot be disabled once enabled (recorded row ids would dangle)")
    // Flag FIRST, upgrade commit second: once the flag is visible, any
    // concurrent writer's (retried) commit assigns its new files firstRowId
    // ranges itself, so the upgrade commit below can never race a flag-blind
    // writer into landing id-less files after the upgrade (the old
    // commit-then-flag order had exactly that window). The upgrade is an
    // idempotent REPAIR — it runs whenever any live file lacks an id — so a
    // crash between the flag flip and the commit is healed by re-calling.
    updateTableMeta(_.put("rowLineage", on))
    if (on && pointerVersion.isDefined
        && snapshot.files.exists(_.firstRowId.isEmpty)) {
      retryingCommit("enableLineage") { snap =>
        var next = nextRowIdOf(snap.version)
        val assigned = snap.files.toIndexedSeq.sortBy(_.path).map { f =>
          if (f.firstRowId.isDefined) f
          else { val g = f.copy(firstRowId = Some(next)); next += f.rows; g }
        }
        pendingNextRowId = Some(next)
        // Full repack: the hint-free chunk planner reuses parent chunks by
        // path identity, which would silently drop the new firstRowId fields.
        pendingRepack = true
        try commit(Snapshot(snap.version + 1, snap.batchId, assigned, snap.deletes))
        finally pendingRepack = false
      }
    }
  }

  /** True when this table assigns + serves row lineage (see [[setRowLineage]]). */
  def rowLineageEnabled: Boolean =
    tableMeta.exists(m => m.has("rowLineage") && m.get("rowLineage").asBoolean())

  /** Target file size as a row cap (Iceberg `write.target-file-size-bytes`
    * in the engine's stat currency, rows): every data-file write rolls to a
    * new part file past `n` rows — Spark's native `maxRecordsPerFile` rolling
    * writer, zero extra shuffle. The complement to `hash` distribution: hash
    * clusters each partition value onto ONE task, which without a cap means
    * one unbounded file for a hot value; with the cap the hot value rolls
    * into ceil(rows/n) bounded files (still zero small files for cold
    * values). 0 clears the cap. Settable via `ALTER TABLE t SET
    * TBLPROPERTIES('write.max-records-per-file'='5000000')`. */
  def setMaxRecordsPerFile(n: Long): Unit = synchronized {
    require(n >= 0, s"write.max-records-per-file must be >= 0, got $n")
    updateTableMeta(m =>
      if (n == 0) { m.remove("maxRecordsPerFile"); () } else m.put("maxRecordsPerFile", n))
  }

  /** AUTO-COMPACTION switch (Delta optimize-on-write posture, opt-in via
    * `TBLPROPERTIES('write.auto-compact.min-files'='N')`): after every
    * merge/append commit, if ~N or more small data files have accreted the
    * table immediately bin-packs THE PARTITIONS CARRYING THEM (never the
    * whole table — O(debt), the same scope [[compactPartitions]] gives a
    * manual operator). `targetRows` is the small-file threshold AND the
    * packed output size (`write.auto-compact.target-rows`, default 2²⁰ —
    * [[compact]]'s default). minFiles 0 disables. The streaming pipeline's
    * cadence knobs ([[graft.ops.DedupIndex]]-style `compactEvery`) count
    * batches; this counts FILES — the right currency when per-batch file
    * fan-out varies with partition spread. */
  def setAutoCompact(minFiles: Int, targetRows: Long = 1L << 20): Unit = synchronized {
    require(minFiles >= 0, s"auto-compact min-files must be >= 0, got $minFiles")
    require(targetRows > 0, s"auto-compact target-rows must be positive, got $targetRows")
    updateTableMeta { m =>
      if (minFiles == 0) { m.remove("autoCompactMinFiles"); m.remove("autoCompactTargetRows"); () }
      else { m.put("autoCompactMinFiles", minFiles); m.put("autoCompactTargetRows", targetRows); () }
    }
  }

  /** Independently tune the small-file threshold — each property stands
    * alone (the SQL surfaces set them in either order; a lone target-rows
    * is stored inert until min-files activates the trigger). */
  def setAutoCompactTargetRows(targetRows: Long): Unit = synchronized {
    require(targetRows > 0, s"auto-compact target-rows must be positive, got $targetRows")
    updateTableMeta { m => m.put("autoCompactTargetRows", targetRows); () }
  }

  /** Only the min-files switch — preserves any stored target-rows. */
  def setAutoCompactMinFiles(minFiles: Int): Unit = synchronized {
    require(minFiles >= 0, s"auto-compact min-files must be >= 0, got $minFiles")
    updateTableMeta { m =>
      if (minFiles == 0) { m.remove("autoCompactMinFiles"); () }
      else { m.put("autoCompactMinFiles", minFiles); () }
    }
  }

  /** Iceberg `write.parquet.compression-codec` parity: the codec every
    * future data-file write uses (zstd/gzip/snappy/lz4/uncompressed —
    * validated against Spark's parquet codec list). Existing files keep
    * their codec (parquet is self-describing per file; readers mix freely);
    * a compaction rewrites under the new codec — the migration path. Empty
    * string clears back to the session default. */
  def setCompressionCodec(codec: String): Unit = synchronized {
    val c = codec.trim.toLowerCase(java.util.Locale.ROOT)
    require(c.isEmpty || Set("zstd", "gzip", "snappy", "lz4", "uncompressed",
      "brotli", "lzo", "none").contains(c),
      s"unknown parquet compression codec '$codec'")
    updateTableMeta(m =>
      if (c.isEmpty) { m.remove("compressionCodec"); () }
      else m.put("compressionCodec", c))
  }

  /** The declared parquet codec, if any (see [[setCompressionCodec]]). */
  def compressionCodec: Option[String] =
    tableMeta.filter(_.has("compressionCodec"))
      .map(_.get("compressionCodec").asText())

  /** The stored target-rows threshold, active or not (default 2²⁰). */
  def autoCompactTargetRows: Long =
    tableMeta.filter(_.has("autoCompactTargetRows"))
      .map(_.get("autoCompactTargetRows").asLong()).getOrElse(1L << 20)

  /** (minFiles, targetRows) when auto-compaction is enabled. */
  def autoCompact: Option[(Int, Long)] =
    tableMeta.filter(_.has("autoCompactMinFiles"))
      .map(m => (m.get("autoCompactMinFiles").asInt(), autoCompactTargetRows))
      .filter(_._1 > 0)

  /** Post-commit auto-compaction trigger (see [[setAutoCompact]]) — called
    * only from [[merge]]/[[append]] (maintenance commits never re-trigger).
    * Small-file debt is estimated from CHUNK STATS ALONE — a chunk whose
    * mean file size is below target counts all its files; a MIXED chunk
    * (above-target mean, but minFileRows below target) counts one —
    * O(chunks) driver arithmetic, zero manifest-entry loads on the no-op
    * path (the 864
    * commits/day case pays one Seq traversal, not an entry parse). Debt in
    * identity-spec partitions compacts via [[compactPartitions]] (touched
    * partitions only); debt outside per-chunk partition lists (wide chunks,
    * pre-evolution files, unpartitioned tables) falls back to [[compact]],
    * which bounds its own work to small files. Pending MOR deletes skip the
    * pass entirely (partition-scoped rewrites under equality deletes are
    * unsound — [[compactPartitions]] would refuse anyway). */
  private def maybeAutoCompact(): Unit = {
    val fired = pendingAutoCompact
    pendingAutoCompact = false
    if (!fired) return // fenced replay: no maintenance on a no-op (version-stable)
    autoCompact.foreach { case (minFiles, target) =>
      // Maintenance must never fail the user's WRITE — the data is already
      // committed when this runs. Concurrent-writer races (e.g. a MOR delete
      // landing between our check and compactPartitions' own) and transient
      // job failures are logged and left for the next trigger.
      try {
        val s = snapshot
        if (s.deletes.isEmpty) {
          val (nSmall, parts, allPartitioned) = s.files match {
            case mf: ManifestFiles =>
              val small = mf.chunks.filter(c =>
                c.count > 0 && c.rows >= 0 && c.rows / c.count < target)
              // Chunk-mean counting alone undercounts MIXED chunks (one huge
              // file hiding many tiny ones behind an above-target mean).
              // minFileRows detects them — such a chunk provably holds ≥1
              // small file (1 is the only sound lower bound from aggregate
              // stats), so accumulated mixed-chunk debt still crosses the
              // trigger instead of deferring forever. Pre-upgrade refs
              // (minFileRows = −1) stay mean-only, as before.
              val smallPaths = small.map(_.path).toSet
              val mixed = mf.chunks.filter(c => !smallPaths.contains(c.path) &&
                c.count > 0 && c.minFileRows >= 0 && c.minFileRows < target)
              val debt = small ++ mixed
              (small.map(_.count).sum + mixed.length,
                debt.flatMap(c => c.partitions.filter(_ => c.specId.contains(currentSpecId))
                  .getOrElse(Seq.empty)).distinct,
                debt.forall(c => c.specId.contains(currentSpecId) && c.partitions.isDefined))
            case files => (files.count(_.rows < target), Seq.empty[String], false)
          }
          if (nSmall >= minFiles) {
            if (allPartitioned && parts.nonEmpty && partitionSpec.isDefined)
              compactPartitions(parts, target)
            else compact(target)
          }
        }
      } catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"auto-compaction skipped on $root: ${e.getMessage}")
      }
    }
    maybeAutoExpire()
  }

  /** Opt-in POST-COMMIT snapshot expiry (r19 — review missing #5: the
    * engine's own bookkeeping tables — consumer-ack registries, quality
    * stats, MV aux counts — accumulate one snapshot per ack/batch FOREVER
    * unless an operator CALLs expire_snapshots per table). After every
    * `everyCommits`-th committed version, expire down to the last
    * `keepLast` snapshots ([[expireSnapshots]]). SAFE BY CONSTRUCTION for
    * replay fences: the commit path inherits every writer fence into each
    * NEWER manifest, so the retained head always carries the full fence
    * map and a re-delivered epoch still no-ops after any expiry; tags
    * always survive. `keepLast = 0` disables. Like auto-compaction, the
    * sweep never fails the user's write, and a reader that captured an
    * old snapshot must re-read before touching disk again (the standing
    * expiry contract). */
  def setSnapshotExpiry(keepLast: Int, everyCommits: Int = 16): Unit = synchronized {
    require(keepLast >= 0, s"expiry keep-last must be >= 0, got $keepLast")
    require(everyCommits > 0, s"expiry cadence must be positive, got $everyCommits")
    updateTableMeta { m =>
      // keepLast 0 is stored, not removed: an EXPLICIT off must survive
      // the bookkeeping tables' open-path defaulting
      // ([[defaultSnapshotExpiry]]), which fires only when the key was
      // never set at all
      m.put("expireKeepLast", keepLast)
      if (keepLast == 0) { m.remove("expireEveryCommits"); () }
      else { m.put("expireEveryCommits", everyCommits); () }
    }
  }

  /** Opt the table into the expiry cadence UNLESS an operator ever set it
    * (including explicitly OFF): the migration path for bookkeeping tables
    * created before the cadence existed — their open sites call this, so
    * a pre-r19 `_consumers`/stats/MV-storage root gains the bound on first
    * touch instead of growing forever (r19 review pass 1). */
  def defaultSnapshotExpiry(keepLast: Int, everyCommits: Int = 16): Unit =
    if (!tableMeta.exists(_.has("expireKeepLast")))
      setSnapshotExpiry(keepLast, everyCommits)

  /** (keepLast, everyCommits) when post-commit expiry is enabled. */
  def snapshotExpiry: Option[(Int, Int)] =
    tableMeta.filter(_.has("expireKeepLast"))
      .map(m => (m.get("expireKeepLast").asInt(),
        if (m.has("expireEveryCommits")) m.get("expireEveryCommits").asInt()
        else 16))
      .filter(_._1 > 0)

  private def maybeAutoExpire(): Unit = snapshotExpiry.foreach {
    case (keep, every) =>
      try {
        // distance-from-floor trigger, NOT a version modulo: auto-compaction
        // runs FIRST in this hook and its own commit bumps the version, so a
        // `v % every == 0` check would systematically miss whenever the two
        // cadences coincide. Retained history is bounded by keep + every
        // whatever interleaving of data and maintenance commits occurs.
        if (currentVersion - math.max(expiryFloor, 0L) >= keep + every)
          expireSnapshots(keep)
      } catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"auto-expiry skipped on $root: ${e.getMessage}")
      }
  }

  /** Iceberg `write.sort-order` parity (`ALTER TABLE ... WRITE ORDERED BY`):
    * the within-file row order of every future data-file write. Spec is a
    * comma list of `col [asc|desc]`. Replaces the default PK clustering in
    * [[writeDataFiles]] — a task-local sort, NO extra shuffle — so parquet
    * row-group min/max stats are tight on the columns queries actually
    * range-filter (e.g. a timestamp), the Iceberg sort-order read-skipping
    * story. The PK is appended as a tiebreaker when absent so key-range
    * pruning for merges never degrades. Empty string clears the order.
    * Settable via `ALTER TABLE t SET TBLPROPERTIES('write.sort-order'=
    * 'trans_datetime desc, amount')`. */
  def setSortOrder(spec: String): Unit = synchronized {
    val s = spec.trim
    if (s.isEmpty) updateTableMeta(m => { m.remove("sortOrder"); () })
    else {
      parseSortOrder(s) // validates column existence + direction tokens
      updateTableMeta(_.put("sortOrder", s))
    }
  }

  /** Current write sort-order spec; empty = default PK clustering. */
  def sortOrder: String =
    tableMeta.filter(_.has("sortOrder")).map(_.get("sortOrder").asText()).getOrElse("")

  /** `"col [asc|desc], ..."` → sort Columns, validated against the schema.
    * `lenient` (the WRITE path) drops terms whose column left the schema
    * (DROP COLUMN / REPLACE after the order was set) instead of failing the
    * write — the order degrades, the data never becomes unwritable. */
  private def parseSortOrder(spec: String,
      lenient: Boolean = false): Seq[org.apache.spark.sql.Column] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { term =>
      def resolved(c: String): Option[String] = {
        val ok = schema.fieldNames.exists(_.equalsIgnoreCase(c))
        if (!ok && !lenient) throw new IllegalArgumentException(
          s"write.sort-order column '$c' not in table schema")
        if (ok) Some(c) else None
      }
      term.split("\\s+").toSeq match {
        case Seq(c) => resolved(c).map(col)
        case Seq(c, dir) if dir.equalsIgnoreCase("asc") || dir.equalsIgnoreCase("desc") =>
          resolved(c).map(x => if (dir.equalsIgnoreCase("desc")) col(x).desc else col(x))
        case _ => throw new IllegalArgumentException(
          s"cannot parse write.sort-order term '$term' (want: col [asc|desc])")
      }
    }

  /** Current per-file row cap; 0 = uncapped (see [[setMaxRecordsPerFile]]). */
  def maxRecordsPerFile: Long =
    tableMeta.filter(_.has("maxRecordsPerFile"))
      .map(_.get("maxRecordsPerFile").asLong()).getOrElse(0L)

  /** Iceberg `write.parquet.bloom-filter-enabled.column.<col>` parity:
    * every future data-file write emits a PARQUET-level bloom filter for
    * `colName` (`parquet.bloom.filter.enabled#col` writer option) — row-group
    * point-lookup skipping on NON-key columns, below the manifest layer (the
    * engine's own manifest blooms cover the PK; this covers everything
    * else, e.g. a UUID request-id probed by support tooling). Metadata-only:
    * existing files are unaffected until rewritten. */
  def setParquetBloom(colName: String, on: Boolean): Unit = synchronized {
    require(schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"bloom-filter column '$colName' not in table schema")
    updateTableMeta { m =>
      val cur = if (m.has("parquetBloomCols"))
        m.get("parquetBloomCols").elements().asScala.map(_.asText()).toVector
      else Vector.empty
      val next =
        if (on) (cur :+ colName).distinct
        else cur.filterNot(_.equalsIgnoreCase(colName))
      m.remove("parquetBloomCols")
      if (next.nonEmpty) { val a = m.putArray("parquetBloomCols"); next.foreach(a.add) }
    }
  }

  // --- Stored VARIANT + shredded sub-columns (Iceberg v3 variant parity) ---

  /** Declared variant shred specs: variant column (lower-cased) →
    * (fieldName, path, sqlType) triples (see [[setVariantShred]]). */
  def variantShred: Map[String, Seq[(String, String, String)]] =
    tableMeta.filter(_.has("variantShred")).map { m =>
      m.get("variantShred").properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map { a =>
          (a.get(0).asText(), a.get(1).asText(), a.get(2).asText())
        }.toSeq
      }.toMap
    }.getOrElse(Map.empty)

  /** Physical side-column name a shredded field lands under in data files
    * (pure naming — see the companion twin, used by the analysis rule so it
    * never has to open the table just to compute names). */
  private[graft] def shredPhysical(varCol: String, name: String): String =
    TransactionalTable.shredPhysical(varCol, name)

  /**
   * SHREDDING for a stored VARIANT column (the engine form of Parquet/
   * Iceberg v3 variant shredding): each declared hot path is materialized as
   * a typed PHYSICAL side-column (`variant_get(v, path, type)`) in every
   * data file [[writeDataFiles]] produces, while the logical schema — and
   * every ordinary scan — keeps only the variant itself (side-columns are
   * invisible: scans read under the logical schema, so parquet column
   * pruning never touches them). [[scanShredded]] is the payoff: a typed
   * read that decodes ONLY the plain typed columns, never the variant
   * binary.
   *
   * Declaring shredding on a table that already has data REWRITES the live
   * data files (one full-rewrite commit, Iceberg's `rewrite_data_files`
   * posture for re-shredding) so the invariant "every live file carries the
   * side-columns" holds and the shredded read is always exact. Pre-shred
   * snapshots stay time-travelable; `fields = Seq.empty` clears the spec
   * (future writes stop materializing — old side-columns are ignored).
   */
  def setVariantShred(varCol: String,
      fields: Seq[(String, String, String)]): Unit = synchronized {
    val lc = varCol.toLowerCase(java.util.Locale.ROOT)
    val f = schema.fields.find(_.name.equalsIgnoreCase(varCol)).getOrElse(
      throw new IllegalArgumentException(s"variant column '$varCol' not in table schema"))
    require(f.dataType == org.apache.spark.sql.types.VariantType,
      s"column '$varCol' is ${f.dataType.simpleString}, not VARIANT")
    fields.foreach { case (name, _, tpe) =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"shred field '$name' collides with a table column")
      org.apache.spark.sql.types.DataType.fromDDL(tpe) // validates the type
    }
    require(fields.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.length
      == fields.length, "duplicate shred field names")
    // Additive-only on a live column: every retained field must keep its
    // exact (path, type). A change that drops or retypes a field would leave
    // stale-spec readers (a loadTable that captured spec A) pairing A with
    // post-rewrite files whose A-columns are GONE — silent NULLs. Clearing
    // ('' → empty) is the explicit operator escape hatch; it does not
    // rewrite, and readers holding the old spec still find their columns in
    // the untouched files.
    if (fields.nonEmpty)
      variantShred.getOrElse(lc, Seq.empty).foreach { case (n, p0, t0) =>
        require(fields.exists { case (n2, p2, t2) =>
          n2.equalsIgnoreCase(n) && p2 == p0 && t2.equalsIgnoreCase(t0) },
          s"shred spec change for '$varCol' must keep field '$n' ($p0:$t0) — " +
            "specs are additive-only on a live column (clear with '' first)")
      }
    def putSpec(spec: Option[Seq[(String, String, String)]],
        markPending: Boolean = false): Unit =
      updateTableMeta { m =>
        val cur = if (m.has("variantShred"))
          m.get("variantShred").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else m.putObject("variantShred")
        cur.remove(lc)
        spec.filter(_.nonEmpty).foreach { fs =>
          val arr = cur.putArray(lc)
          fs.foreach { case (n, p, t) =>
            val a = arr.addArray(); a.add(n); a.add(p); a.add(t)
          }
        }
        if (cur.isEmpty) m.remove("variantShred")
        // Heal-pending marker written ATOMICALLY with the spec flip: until
        // the straddler-window check below confirms (and clears it), readers
        // must treat files as possibly lacking the side-columns. A crash
        // anywhere between this write and the confirmation leaves the marker
        // behind, and shredded reads fall back to the variant binary —
        // correct, unaccelerated — until [[healVariantShred]] runs.
        if (markPending) {
          val pend = shredHealPending + lc
          val arr = m.putArray("shredHealPending")
          pend.toSeq.sorted.foreach(arr.add)
        }
        ()
      }
    if (fields.nonEmpty && pointerVersion.isDefined && snapshot.files.nonEmpty) {
      // Materialize BEFORE the spec goes live: the rewrite runs under a
      // PENDING spec only this handle's write path sees, so a concurrent
      // shredded read can never plan side-columns that aren't on disk yet
      // (it sees no spec and stays on the binary — correct, unaccelerated).
      // A failed rewrite leaves no live spec, nothing to roll back. After
      // the flip, heal the flip window: a commit that raced between rewrite
      // and flip wrote without the columns — one rewrite under the now-live
      // spec covers it (from here on every writer materializes itself). The
      // flip carries a durable heal-pending marker so a crash before the
      // heal commits can never leave silent-NULL shredded reads.
      pendingShredSpec = Some(variantShred + (lc -> fields))
      try rewriteAllFiles("shred")
      finally pendingShredSpec = None
      val vRewritten = currentVersion
      putSpec(Some(fields), markPending = true)
      if (currentVersion != vRewritten) rewriteAllFiles("shred")
      // Confirmed: every live file now carries side-columns for EVERY live
      // spec (both rewrites materialize the full spec map), so all pending
      // markers clear, not just this column's.
      clearShredHealPending()
    } else putSpec(Some(fields))
  }

  /** Variant columns whose shred spec flipped live without a CONFIRMED
    * straddler-window heal (a crash between the spec flip and the heal
    * commit in [[setVariantShred]]). While a column is listed, a live file
    * may lack its side-columns, so [[scanShredded]] and the transparent
    * rewrite rule serve the variant binary instead — exact, unaccelerated —
    * until [[healVariantShred]] re-establishes the invariant. */
  def shredHealPending: Set[String] =
    tableMeta.filter(_.has("shredHealPending"))
      .map(_.get("shredHealPending").elements().asScala.map(_.asText()).toSet)
      .getOrElse(Set.empty)

  private def clearShredHealPending(): Unit =
    updateTableMeta { m => m.remove("shredHealPending"); () }

  /** Idempotent recovery for a crashed [[setVariantShred]] flip window: one
    * full rewrite under the live spec re-materializes every side-column,
    * then the pending markers clear. No-op when nothing is pending; safe to
    * call at any time (a redundant call after a crash-between-heal-and-clear
    * merely rewrites once more). */
  def healVariantShred(): Unit = synchronized {
    if (shredHealPending.nonEmpty) {
      if (pointerVersion.isDefined && snapshot.files.nonEmpty)
        rewriteAllFiles("shred-heal")
      clearShredHealPending()
    }
  }

  /** Thread-confined (setVariantShred is synchronized): the not-yet-live
    * shred spec the materializing rewrite writes under — see the window
    * argument in [[setVariantShred]]. */
  private var pendingShredSpec: Option[Map[String, Seq[(String, String, String)]]] = None

  /** The shred spec [[writeDataFiles]] actually materialized under, consumed
    * by [[commit]]'s spec-stability guard: a WRITER whose files were shaped
    * by a stale spec (another handle's `setVariantShred` flipped the spec
    * between this attempt's meta read and its commit) must NOT land — the
    * commit throws the retryable conflict and the recompute re-reads the
    * live spec. This closes the cross-handle TOCTOU the flip-then-heal
    * sequence alone cannot (the healer's version check races the writer's
    * commit; with this guard the straddling writer polices itself). */
  private var pendingWroteShredSpec: Option[Map[String, Seq[(String, String, String)]]] = None

  /** Full-rewrite commit (every live file, deletes folded in) — the
    * materialization step behind [[setVariantShred]] on a non-empty table. */
  private def rewriteAllFiles(opName: String): Unit =
    retryingCommit(opName) { snap =>
      val data = scanWithDeletes(snap.files, snap.deletes,
        withLineage = rowLineageEnabled)
      val newVersion = snap.version + 1
      val target = math.max(1L, (snap.rowCount + (1L << 20) - 1) / (1L << 20)).toInt
      val rangeCols = partitionCol.map(col).toSeq ++ pkCols.map(col)
      val newFiles = writeDataFiles(data.repartitionByRange(target, rangeCols: _*),
        commitDir(newVersion), seq = newVersion)
      commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
    }

  /**
   * Typed read of a variant column's SHREDDED fields: primary key column(s)
   * plus each declared field under its declared name — served entirely from
   * the plain typed side-columns ([[setVariantShred]]'s invariant makes this
   * exact), so the scan's parquet ReadSchema never includes the variant
   * binary. Pending MOR deletes are applied as in any scan. This is the
   * pruning contract of variant shredding: probing one hot path of a 100 TB
   * variant column costs one narrow typed column, not a binary decode of
   * every row.
   */
  def scanShredded(varCol: String): DataFrame = {
    val lc = varCol.toLowerCase(java.util.Locale.ROOT)
    val fields = variantShred.getOrElse(lc, throw new IllegalArgumentException(
      s"no shred spec declared for variant column '$varCol' (setVariantShred)"))
    val s = snapshot
    if (shredHealPending.contains(lc)) {
      // Crashed flip window (see setVariantShred): a live file may lack the
      // side-columns, and reading them would serve silent NULLs. Serve the
      // exact same semantics from the variant binary — the identical
      // variant_get the writer materializes — until healVariantShred runs.
      val actual = schema.fields.find(_.name.equalsIgnoreCase(varCol)).get.name
      scanWithDeletes(s.files, s.deletes)
        .select(pkCols.map(col) ++ fields.map { case (n, p, t) =>
          org.apache.spark.sql.functions.variant_get(col(actual), p, t).as(n)
        }: _*)
    } else {
      val shredFields = fields.map { case (n, _, t) =>
        org.apache.spark.sql.types.StructField(shredPhysical(lc, n),
          org.apache.spark.sql.types.DataType.fromDDL(t))
      }
      val sch = StructType(pkCols.map(schema(_)) ++ shredFields)
      scanWithDeletes(s.files, s.deletes, sch)
        .select(pkCols.map(col) ++ fields.map { case (n, _, _) =>
          col(shredPhysical(lc, n)).as(n)
        }: _*)
    }
  }

  /** Columns with parquet bloom filters enabled (see [[setParquetBloom]]). */
  def parquetBloomCols: Seq[String] =
    tableMeta.filter(_.has("parquetBloomCols"))
      .map(_.get("parquetBloomCols").elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq.empty)

  /** Free-form writer-property record (engine components persist small
    * operational breadcrumbs here — e.g. the ANN index's per-retrain
    * cell-occupancy stats). Namespaced under `custom.` so it can never
    * collide with an engine metadata key. */
  def setCustomMeta(key: String, value: String): Unit = synchronized {
    updateTableMeta(_.put(s"custom.$key", value))
  }

  /** The stored [[setCustomMeta]] value, if any. */
  def customMeta(key: String): Option[String] =
    tableMeta.filter(_.has(s"custom.$key")).map(_.get(s"custom.$key").asText())

  /** Read-modify-atomic-rewrite of `_table.json` for writer-behavior
    * properties (orthogonal to schema/partition metadata, which own their
    * own rewrite path and carry these keys forward). */
  private def updateTableMeta(
      f: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val p = Paths.get(root, "_table.json")
    val meta = mapper.readTree(commitIo.read(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    f(meta)
    commitIo.putAtomic(p, mapper.writeValueAsBytes(meta))
  }

  /** Conform a merge/append input to the table schema: columns the input
    * lacks take their declared write-default (`CURRENT_DEFAULT` column
    * metadata — Iceberg v3 default-value semantics) or NULL (post-evolution
    * writers that predate the new column keep working — Iceberg's
    * optional-column semantics); extra columns are dropped by the
    * projection. */
  private def conformed(df: DataFrame): DataFrame = {
    val present = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    df.select(schema.fields.map { f =>
      if (present.contains(f.name.toLowerCase(java.util.Locale.ROOT))) col(f.name)
      else if (f.metadata.contains("CURRENT_DEFAULT"))
        expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Bulk append (bootstrap / initial load): no key matching, pure add.
    * `writerId` selects the fence domain — see [[merge]]; `extraFences`
    * lands additional fence-domain updates atomically WITH the data (the
    * multi-source MV tier records one per-source high-water mark per
    * refresh commit, so a crash before its own meta update is recoverable
    * per source instead of by full recompute). */
  def append(rows: DataFrame, batchId: Long = -1L,
      writerId: Option[String] = None,
      extraFences: Map[String, Long] = Map.empty): Unit = synchronized {
    retryingCommit("append") { snap =>
      val fenced = writerId match {
        case Some(w) => batchId >= 0 && batchId <= snap.writerFences.getOrElse(w, -1L)
        case None => batchId >= 0 && batchId <= snap.batchId
      }
      if (!fenced) {
        val newVersion = snap.version + 1
        val newFiles = writeDataFiles(conformed(rows),
          commitDir(newVersion), seq = newVersion)
        pendingWriterFence = writerId.map(_ -> batchId)
        pendingExtraFences = extraFences
        pendingChunkHint = Some((Seq.empty, newFiles))
        try commit(Snapshot(newVersion,
          if (writerId.isDefined) snap.batchId else math.max(batchId, snap.batchId),
          new AppendedFiles(snap.files, newFiles), snap.deletes))
        finally { pendingWriterFence = None; pendingExtraFences = Map.empty }
        pendingAutoCompact = true
      }
    }
    maybeAutoCompact()
  }

  /**
   * INSERT OVERWRITE parity (Iceberg static/dynamic overwrite): replace the
   * whole table or whole partitions in ONE atomic commit — old snapshots
   * stay time-travelable, readers of the prior version are undisturbed.
   *
   *  - `staticPartitions = None, dynamic = false`: full-table overwrite —
   *    the new snapshot holds only the written files (pending delete files
   *    are cleared; nothing they masked survives).
   *  - `staticPartitions = Some(vals)`: replace exactly those partition
   *    values; rows landing OUTSIDE them abort the commit (checked against
   *    the written files' manifest partitions — cheap, pre-commit).
   *  - `dynamic = true`: replace exactly the partitions the written rows
   *    touch (Spark's `partitionOverwriteMode=dynamic` semantics).
   *
   * Partition-scoped overwrites compare manifest partition VALUES, so every
   * live file must carry the current partition spec — under partition
   * evolution, older-spec files could silently retain rows that belong to a
   * replaced partition. Compact first (rewrites stamp the current spec).
   * SQL-path op: the commit keeps the snapshot's batchId (never advances
   * the streaming replay fence, same as mergeAdhoc).
   */
  def overwrite(rows: DataFrame, staticPartitions: Option[Seq[String]] = None,
      dynamic: Boolean = false,
      expectedVersion: Option[Long] = None): Unit = synchronized {
    require(!(staticPartitions.nonEmpty && dynamic),
      "static partition values and dynamic mode are mutually exclusive")
    retryingCommit("overwrite") { snap =>
      validateUnchanged(snap, expectedVersion, "INSERT OVERWRITE")
      val newVersion = snap.version + 1
      val newFiles = writeDataFiles(conformed(rows), commitDir(newVersion), seq = newVersion)
      if (staticPartitions.isEmpty && !dynamic) {
        commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
      } else {
        require(partitionCol.isDefined,
          "partition-scoped overwrite requires a partitioned table")
        require(snap.files.forall(_.specId == currentSpecId),
          "partition-scoped overwrite needs every file on the current partition " +
            "spec; run compact() to migrate older-spec files first")
        val replaced: Set[String] =
          if (dynamic) newFiles.flatMap(_.partition).toSet
          else {
            val vals = staticPartitions.get.toSet
            val stray = newFiles.flatMap(_.partition).toSet -- vals
            require(stray.isEmpty,
              s"overwrite rows land outside the overwritten partitions: " +
                s"${stray.mkString(", ")}")
            vals
          }
        val carried = snap.files.filterNot(_.partition.exists(replaced))
        // Equality deletes mask only rows with an OLDER _seq; carried files
        // keep theirs, new files are newer than every pending delete.
        commit(Snapshot(newVersion, snap.batchId, carried ++ newFiles, snap.deletes))
      }
    }
  }

  /**
   * CREATE OR REPLACE TABLE AS SELECT (Iceberg RTAS parity,
   * `SparkCatalog.stageReplace` semantics): atomically swap the table's
   * schema, primary key, partition spec AND full contents in ONE commit,
   * while the version chain — and with it time travel — survives: the
   * pre-replace snapshot reads under its own schema stamp ([[schemaAt]]),
   * exactly like Iceberg keeps prior snapshots across a replace.
   *
   * Atomicity: the manifest commit IS the replace. The commit stamps the
   * new schema (as every commit does) plus the new pk/partition spec in a
   * `replace` node; `_table.json` is rewritten AFTER the commit and is
   * thereby demoted to a cache — a crash between the two leaves a
   * `_replace_pending` marker that [[TransactionalTable.open]] heals from
   * the manifest stamp (age-gated, same pattern as orphaned manifest
   * claims). Readers pinned to older versions are undisturbed: data files
   * are immutable and the old manifests stay in place.
   *
   * Fresh-table semantics for everything forward-looking: pending MOR
   * deletes are cleared (nothing they masked survives a full replace),
   * rename history and past partition specs reset, the streaming replay
   * fence map carries over (fences only ever grow — a replace must not
   * cause a checkpointed stream to re-apply a fenced batch). Branches
   * would keep referencing the old pk/schema domain, so an active branch
   * rejects the replace — drop or publish branches first.
   */
  def replaceWith(rows: DataFrame, newSchema: StructType, newPk: String,
      newSpec: Option[PartitionTransform],
      expectedVersion: Option[Long] = None): TransactionalTable = synchronized {
    require(branchName.isEmpty, "REPLACE TABLE operates on main, not a branch")
    require(listBranches.isEmpty,
      s"cannot replace a table with active branches (${listBranches.mkString(", ")}): " +
        "their heads would reference the replaced schema/pk — publish or drop them first")
    // Validates pk (type + presence) and the transform's source column.
    val nt = new TransactionalTable(spark, root, newSchema, newPk, newSpec)
    val marker = Paths.get(root, ReplacePendingMarker)
    commitIo.putAtomic(marker, Array.emptyByteArray)
    nt.retryingCommit("replace") { snap =>
      validateUnchanged(snap, expectedVersion, "REPLACE TABLE")
      val newVersion = snap.version + 1
      val newFiles = nt.writeDataFiles(nt.conformed(rows),
        nt.commitDir(newVersion), seq = newVersion)
      // Nothing of the parent manifest survives a full replace: skip chunk
      // reuse entirely and write fresh full-sized chunks (pendingRepack),
      // stamping the replace metadata for crash healing.
      nt.pendingRepack = true
      nt.pendingReplaceStamp = true
      nt.commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
    }
    writeTableMeta(root, newSchema, newPk, newSpec,
      metaVersion = Some(nt.currentVersion), replaceSemantics = true, io = commitIo)
    commitIo.delete(marker)
    nt
  }

  /**
   * Iceberg `add_files` parity: REGISTER existing Parquet files into the
   * table in ONE metadata commit — manifest entries built from each file's
   * footer (row count, PK range, column stats), zero bytes of data moved or
   * rewritten. The 100 TB migration path: adopting an existing lake into
   * the table costs footer reads, not a rewrite.
   *
   * Semantics and guards:
   *  - unpartitioned tables only: an external file carries no `_p` value,
   *    and partition-scoped operations (overwrite, partition pruning)
   *    assume every live file declares its partition.
   *  - every PK column must exist in the file's schema (a missing key would
   *    scan as NULL rows); other table columns missing from a file read as
   *    NULLs — Spark's standard missing-column semantics.
   *  - registered files have no `_seq` stamp and read as commit-epoch 0
   *    (`scanWithDeletes` coalesces), so every LATER delete file masks them
   *    correctly; merges rewrite them copy-on-write like any other file
   *    (the external original is dropped from the manifest, never deleted).
   *  - a path already in the manifest is rejected (double-registration
   *    would double-count rows).
   * Returns (files added, rows added).
   */
  def addFiles(paths: Seq[String]): (Long, Long) = synchronized {
    require(paths.nonEmpty, "add_files: no files given")
    require(partitionSpec.isEmpty,
      "add_files supports unpartitioned tables only (external files carry " +
        "no partition value; partition-scoped operations would mis-prune)")
    val pkLower = pkCols.map(_.toLowerCase(java.util.Locale.ROOT))
    val entries = paths.map { f =>
      val p = Paths.get(f)
      require(Files.isRegularFile(p), s"add_files: not a file: $f")
      // ONE footer read per file: stats and the schema check share it —
      // at 10⁵ registered files the metadata cost is 10⁵ opens, not 2×.
      val (rows, mn, mx, colStats, fileCols) = fileFooterStats(p)
      val missing = pkLower.filterNot(fileCols.contains)
      require(missing.isEmpty,
        s"add_files: $f lacks primary-key column(s) ${missing.mkString(", ")}")
      DataFile(p.toString, None, mn, mx, rows, Files.size(p),
        bloom = None, stats = colStats, specId = currentSpecId)
    }
    retryingCommit("addFiles") { snap =>
      // Double-registration check over pk-overlapping chunks only (a
      // re-added file's range overlaps its own manifest entry) — the
      // manifest is never fully materialized.
      val live = (snap.files match {
        case mf: ManifestFiles => mf.loadWhere(c =>
          entries.exists(e => e.pkMax >= c.pkMin && e.pkMin <= c.pkMax))
        case s => s
      }).map(_.path).toSet
      val dup = entries.map(_.path).filter(live.contains)
      require(dup.isEmpty,
        s"add_files: already registered: ${dup.take(3).mkString(", ")}")
      // Row lineage: registered foreign files get inherited ids like any
      // other new file (their rows have no materialized `_rid` column).
      val lineaged =
        if (!rowLineageEnabled) entries
        else {
          var next = nextRowIdOf(snap.version)
          val a = entries.sortBy(_.path).map { f =>
            val g = f.copy(firstRowId = Some(next)); next += f.rows; g
          }
          pendingNextRowId = Some(next)
          a
        }
      pendingChunkHint = Some((Seq.empty, lineaged))
      commit(Snapshot(snap.version + 1, snap.batchId,
        new AppendedFiles(snap.files, lineaged), snap.deletes))
    }
    (entries.length.toLong, entries.map(_.rows).sum)
  }

  /** Write rows as self-contained Parquet, directory-bucketed by partition value,
   *  and return their manifest entries (path + partition + PK min/max stats).
   *  Rows are stamped with the committing version (`_seq`) so merge-on-read
   *  delete files can mask only OLDER images. Single pass: no emptiness
   *  pre-check (that would execute the whole merged plan twice) — an empty
   *  input simply yields no entries.
   *
   *  One Spark job ([[ManifestWrite]]): tasks write their files straight into
   *  `outDir` — no temporary directory, no rename — and gather every file's
   *  manifest stats as the rows go by: row count, bytes, the PK range in the
   *  key domain (raw long, or the seed-42 xxhash64 of [[keyExpr]] for
   *  string/composite PKs), [[statsCols]] min/max as the Parquet footer
   *  reports them, and the PK Bloom of files with at most [[BloomMaxRows]]
   *  rows. The manifest CAS is the only commit: files of an attempt that
   *  loses it are orphans for [[removeOrphanFiles]]. */
  private def writeDataFiles(df0: DataFrame, outDir: Path, seq: Long): Seq[DataFile] = {
    // Variant shredding (see setVariantShred): materialize each declared hot
    // path as a typed physical side-column — map-only, codegen'd variant_get
    // over the already-in-hand rows; the logical schema is untouched.
    val effectiveShred = pendingShredSpec.getOrElse(variantShred)
    pendingWroteShredSpec = Some(effectiveShred) // commit() validates stability
    val df = effectiveShred.foldLeft(df0) {
      case (d, (vcol, fields)) =>
        d.columns.find(_.equalsIgnoreCase(vcol)) match {
          case Some(actual) => fields.foldLeft(d) { case (d2, (name, path, tpe)) =>
            d2.withColumn(shredPhysical(vcol, name),
              org.apache.spark.sql.functions.variant_get(col(actual), path, tpe))
          }
          case None => d
        }
    }
    // Optional pre-write clustering (see setWriteDistribution): `hash`
    // guarantees one file per partition value per commit, `range` disjoint
    // per-file key ranges. Under `none` the shuffle-free path below stands.
    val distributed = (writeDistribution, partitionSpec) match {
      case ("hash", Some(spec)) => df.repartition(spec.valueExprIn(df.schema))
      case ("range", Some(spec)) =>
        df.repartitionByRange((spec.valueExprIn(df.schema) +: pkCols.map(col)): _*)
      case ("range", None) => df.repartitionByRange(pkCols.map(col): _*)
      case _ => df // `none`, or `hash` on an unpartitioned table (no cluster key)
    }
    // Within-task sort (no shuffle): default PK clustering for tight key
    // stats; a declared write.sort-order replaces it (PK appended as
    // tiebreaker) so row-group min/max are tight on the query-hot columns.
    val sortCols = sortOrder match {
      case "" => partitionCol.map(col).toSeq ++ pkCols.map(col)
      case s =>
        partitionCol.map(col).toSeq ++ parseSortOrder(s, lenient = true) ++ pkCols.map(col)
    }
    val stamped = distributed.sortWithinPartitions(sortCols: _*).withColumn("_seq", stamp(seq))
    // `_p` is the TRANSFORM of the source column (identity → the value
    // itself), so the data file keeps every real column (Hive-style
    // partitionBy would strip it from the file) and hidden partitioning
    // (days/hours/bucket) derives its directory value here — the write
    // half of the Iceberg partition-spec contract.
    val rows = partitionSpec match {
      case Some(spec) => stamped.withColumn("_p", spec.valueExprIn(df.schema))
      case None => stamped
    }
    val options: Map[String, String] =
      // Rolling writer (see setMaxRecordsPerFile): bounds every part file even
      // when `hash` distribution funnels a hot partition value through one task.
      (if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
       else Map.empty[String, String]) ++
      // Parquet-level bloom filters on declared columns (see setParquetBloom):
      // row-group point-lookup skipping below the manifest layer.
      parquetBloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true") ++
      // Declared compression codec (Iceberg write.parquet.compression-codec
      // parity); unset = Spark's session default (snappy).
      compressionCodec.map("compression" -> _)
    val written = graft.util.JobLabel.labeled(spark, s"commit:write $root") {
      ManifestWrite.write(rows, outDir.toString, partitionSpec.map(_ => "_p"), options,
        ManifestWrite.StatsSpec(pkCols, pkHashed, statsCols, BloomMaxRows))
    }
    val bloomed = written.filter(_.rows > 0).map { w =>
      DataFile(w.path, partitionFromPath(outDir, Paths.get(w.path)), w.keyMin, w.keyMax,
        w.rows, w.bytes, bloom = w.bloom, stats = w.stats, specId = currentSpecId)
    }
    if (!rowLineageEnabled) bloomed
    else {
      // Row lineage (Iceberg v3): reserve a contiguous `firstRowId` range per
      // new file from the table's next-row-id high-water mark, in path order
      // (part-file numbering — deterministic for a fixed input partitioning).
      // The reservation is optimistic like the rest of the commit: a lost
      // CAS race re-runs this whole write against the fresh snapshot.
      var next = nextRowIdOf(pointerVersion.getOrElse(-1L))
      val assigned = bloomed.sortBy(_.path).map { f =>
        val g = f.copy(firstRowId = Some(next)); next += f.rows; g
      }
      pendingNextRowId = Some(next)
      assigned
    }
  }

  /** The `_seq`/`_dseq` stamp of a commit's rows ([[graft.functions.CommitStamp]]:
    * one compiled write plan serves every commit, whatever its version). */
  private def stamp(seq: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.GraftShims.column(graft.functions.CommitStamp(seq))

  /** Row-lineage high-water mark of a committed version: the first `_row_id`
    * the NEXT commit may assign. 0 for pre-lineage manifests or version < 0
    * (empty table). Monotone non-decreasing across commits — rollback
    * inherits the rolled-back-FROM mark, so discarded ids are never reused. */
  private def nextRowIdOf(version: Long): Long =
    if (version < 0) 0L
    else manifestNode(version).flatMap(n => Option(n.get("nextRowId"))).fold(0L)(_.asLong())

  /** Table columns (besides the PK) whose footer stats are worth carrying in
    * the manifest: integral + timestamp (both stored as parquet INT32/INT64,
    * so footer min/max unbox to Long exactly). Resolved once per handle. */
  private val statsCols: Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if !f.name.equalsIgnoreCase(pk) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | TimestampType | DateType => true
        case _ => false
      }) => f.name
    }.toSeq
  }

  /** Row count, PK min/max, [[statsCols]] min/max and the lower-cased column
    * names of a FOREIGN Parquet file, from one footer read ([[addFiles]];
    * files the table writes get the same stats from their write task, see
    * [[writeDataFiles]]). Stats are exact for integral types; a file whose
    * PK stats are absent (all-null column) gets the never-prunable full
    * range — conservative, not silently prunable-to-nothing. Columns whose
    * stats are absent or non-numeric (e.g. INT96 timestamps) are simply
    * omitted — absent stats mean "never prunable", the conservative
    * direction. */
  private[table] def fileFooterStats(file: Path)
      : (Long, Long, Long, Map[String, (Long, Long)], Set[String]) = {
    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(input)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      def statsOf(name: String): Seq[org.apache.parquet.column.statistics.Statistics[_]] =
        blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == name).map(_.getStatistics))
          .filter(s => s != null && s.hasNonNullValue).toSeq
      def range(ss: Seq[org.apache.parquet.column.statistics.Statistics[_]])
          : Option[(Long, Long)] = {
        val nums = ss.flatMap(s => (s.genericGetMin, s.genericGetMax) match {
          case (a: Number, b: Number) => Some((a.longValue, b.longValue))
          case _ => None // non-numeric physical type: skip, never mis-prune
        })
        if (nums.isEmpty || nums.length != ss.length) None
        else Some((nums.map(_._1).min, nums.map(_._2).max))
      }
      val (pkMin, pkMax) = range(statsOf(pk)).getOrElse((Long.MinValue, Long.MaxValue))
      val colStats = statsCols.flatMap { c =>
        range(statsOf(c)).map(c.toLowerCase(java.util.Locale.ROOT) -> _)
      }.toMap
      val fieldNames = reader.getFooter.getFileMetaData.getSchema.getFields
        .asScala.map(_.getName.toLowerCase(java.util.Locale.ROOT)).toSet
      (rows, pkMin, pkMax, colStats, fieldNames)
    } finally reader.close()
  }

  /** Partition value from the Hive-style `_p=<value>` directory segment
    * (what DataFrameWriter.partitionBy produced); decoded with Spark's own
    * unescaper so special characters round-trip. */
  private def partitionFromPath(outDir: Path, file: Path): Option[String] =
    outDir.relativize(file).iterator().asScala
      .map(_.toString).find(_.startsWith("_p="))
      .map(_.substring(3))
      .filter(_ != "__HIVE_DEFAULT_PARTITION__")
      .map(org.apache.spark.sql.graftshim.GraftShims.unescapePathName)

  /** Write a merge-on-read delete file — equality (pk, _dseq) rows or
    * positional (_dfile, _dpos) rows per `kind`. Returns None when the input
    * is empty. The manifest entry's path is the written directory (delete
    * sets are small; part-file granularity isn't needed), so the write
    * sweeps every file no committed task reported out of it
    * ([[ManifestWrite]]'s `sweepUncommitted`): a failed task attempt's file
    * can never be read as part of a committed delete set. For positional
    * files the pk stats degrade to the never-prunable full range (no pk
    * column), which is conservative and correct.
    *
    * Same one-job path as [[writeDataFiles]]: the write task gathers rows,
    * bytes and the key range. Hashed PKs (string/composite): data-file
    * pkMin/pkMax live in the xxhash64 domain, so the delete file's range is
    * the same seed-42 hash of the raw member columns (or changes()'s
    * carried-file pruning would degrade to O(table)); the anti-join in
    * scanWithDeletes still matches on the raw member columns, exact. */
  private def writeDeleteFile(keys: DataFrame, outDir: Path, seq: Long,
      kind: String = DeleteFile.Equality): Option[DeleteFile] = {
    val keyCols = if (kind == DeleteFile.Equality) pkCols else Nil
    val written = graft.util.JobLabel.labeled(spark, s"commit:delete-write $root") {
      ManifestWrite.write(keys.withColumn("_dseq", stamp(seq)), outDir.toString, None,
        Map.empty, ManifestWrite.StatsSpec(keyCols, pkHashed), sweepUncommitted = true)
    }
    val live = written.filter(_.rows > 0)
    if (live.isEmpty) None
    else Some(DeleteFile(outDir.toString, live.map(_.keyMin).min, live.map(_.keyMax).max,
      live.map(_.rows).sum, written.map(_.bytes).sum, kind))
  }

  /**
   * Roll back to an older committed snapshot (Iceberg `rollback_to_snapshot`
   * parity): the target version's file/delete lists are re-committed as a
   * NEW version — history is preserved (the bad commits stay time-travelable
   * until expired, unlike a pointer rewind, which would orphan them and
   * break "version numbers only grow" invariants elsewhere), tags keep
   * meaning, and expiry keeps working. The rollback commit is pure metadata:
   * no data file is read, moved or rewritten. `batchId` is NOT rolled back —
   * the replay fence must keep its high-water mark, or a checkpointed
   * stream's next delivery would double-apply batches that are now (again)
   * missing from the table; re-delivery of those batches is exactly how a
   * stream refills a rolled-back table.
   */
  def rollbackTo(version: Long): Unit = synchronized {
    retryingCommit("rollback") { snap =>
      require(version < snap.version,
        s"rollback target $version is not older than current ${snap.version}")
      require(manifestExists(version),
        s"cannot rollback to version $version: snapshot expired or never existed")
      val old = snapshotAt(version)
      commit(Snapshot(snap.version + 1, snap.batchId, old.files, old.deletes))
    }
  }

  /**
   * Rewrite small files (bin-packing compaction). A 100 s CDC trigger accretes
   * ~864 commits/day of small files; without compaction scan fan-out grows
   * unboundedly (Iceberg ships `rewrite_data_files` for the same reason —
   * reference `spark_sql_merge_into_iceberg.py:51-63` leans on it implicitly).
   *
   * Files with fewer than `minFileRows` rows are rewritten; larger files are
   * carried untouched. Data is byte-identical, old versions stay
   * time-travelable (their manifests and files are never deleted), and
   * `batchId` is preserved so replay fencing is unaffected.
   *
   * Both rewrite paths range-repartition on (partition, pk) into
   * ~`minFileRows`-row slices — the same shape as [[compactClustered]] —
   * NEVER one-task-per-partition-value (`repartition(col(p))`/`coalesce(1)`
   * funnels a hot partition through a single task: a guaranteed straggler,
   * and a single giant output file, at 100 TB). Range slicing keeps each
   * task bounded regardless of per-partition skew, and since the range keys
   * lead with the partition column, a task's rows still land in few
   * partition directories.
   */
  def compact(minFileRows: Long = 1L << 20): Unit = synchronized {
    retryingCommit("compact") { snap =>
      def packed(df: DataFrame, totalRows: Long): DataFrame = {
        val target = math.max(1L, (totalRows + minFileRows - 1) / minFileRows).toInt
        val rangeCols = partitionCol.map(col).toSeq ++ pkCols.map(col)
        df.repartitionByRange(target, rangeCols: _*)
      }
      if (snap.deletes.nonEmpty) {
        // MOR maintenance: fold the pending delete files in — rewrite all data
        // with deletes applied, emerging as a pure-data snapshot.
        // (snap.rowCount ignores pending deletes — an over-estimate, which
        // only errs toward one more, slightly smaller, output slice.)
        val data = scanWithDeletes(snap.files, snap.deletes,
          withLineage = rowLineageEnabled)
        val newVersion = snap.version + 1
        val newFiles = writeDataFiles(packed(data, snap.rowCount),
          commitDir(newVersion), seq = newVersion)
        commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
      } else {
        val small = snap.files.filter(_.rows < minFileRows)
        // Work to do when some partition bin holds several small files, or a
        // small file still carries an older partition spec (partition
        // evolution: rewriting re-derives `_p` under the current transform,
        // so compaction doubles as spec migration — Iceberg's
        // rewrite_data_files role). Bins are per (spec, value): equal value
        // strings from different eras mean different things.
        val needsWork = small.exists(_.specId != currentSpecId) ||
          small.groupBy(f => (f.specId, f.partition)).exists(_._2.size > 1)
        if (needsWork) {
          val keep = snap.files.filterNot(small.toSet)
          val newVersion = snap.version + 1
          val newFiles = writeDataFiles(
            packed(scanWithDeletes(small, Seq.empty,
              withLineage = rowLineageEnabled), small.map(_.rows).sum),
            commitDir(newVersion), seq = newVersion)
          commit(Snapshot(newVersion, snap.batchId, keep ++ newFiles))
        }
      }
    }
  }

  /**
   * Partition-scoped bin-pack (Iceberg `rewrite_data_files ... WHERE` role):
   * rewrite ONLY the SMALL files (rows < `minFileRows`) whose current-spec
   * partition value is in `values`, carrying every other file into the new
   * snapshot BY REFERENCE — cost O(selected files), not O(table), and
   * already-packed outputs of earlier passes are never re-rewritten. At 100 TB compaction debt is
   * concentrated in the partitions a day's ingest touched; this is the knob
   * that pays exactly that debt. Pre-evolution files are skipped (their
   * value strings mean something else under the old transform — the
   * full `compact()` migrates those). Requires a delete-free snapshot
   * (fold_deletes first): an equality delete may mask rows in UNSELECTED
   * files, so folding here would change their content silently.
   *
   * Returns (files rewritten, files written); (0, 0) = nothing to do.
   */
  def compactPartitions(values: Seq[String],
      minFileRows: Long = 1L << 20): (Int, Int) = synchronized {
    require(values.nonEmpty, "compactPartitions needs at least one partition value")
    var result = (0, 0)
    retryingCommit("compactPartitions") { snap =>
      require(snap.deletes.isEmpty,
        "table has pending merge-on-read delete files; run " +
          "CALL system.fold_deletes (or compact) first")
      // SMALL files only (rows < minFileRows), matching [[compact]]: a hot
      // partition under steady small merges must pay O(new debt) per pass,
      // never re-rewrite the target-sized outputs of previous passes
      // (all-files selection would make bytes-rewritten quadratic in the
      // partition's growth under an auto-compact cadence).
      val selected = snap.files.filter(f =>
        f.specId == currentSpecId && f.partition.exists(values.contains) &&
          f.rows < minFileRows)
      if (selected.size > 1) {
        val keep = snap.files.filterNot(selected.toSet)
        val newVersion = snap.version + 1
        val target = math.max(1L,
          (selected.map(_.rows).sum + minFileRows - 1) / minFileRows).toInt
        val rangeCols = partitionCol.map(col).toSeq ++ pkCols.map(col)
        val newFiles = writeDataFiles(
          scanWithDeletes(selected, Seq.empty, withLineage = rowLineageEnabled)
            .repartitionByRange(target, rangeCols: _*),
          commitDir(newVersion), seq = newVersion)
        result = (selected.size, newFiles.size)
        commit(Snapshot(newVersion, snap.batchId, keep ++ newFiles))
      } else result = (0, 0)
    }
    result
  }

  /**
   * Targeted MOR delete fold (Iceberg `rewrite_position_deletes` role, taken
   * to its conclusion): apply the pending delete files to ONLY the data
   * files they can actually mask and clear the delete set. Victim selection
   * is exact where possible and conservative otherwise — positional deletes
   * name their victim files outright (read the tiny delete files once);
   * equality deletes prune candidates by pk-range ∧ bloom through the same
   * [[affectedFiles]] path merges use. Every untouched file rides into the
   * new snapshot BY REFERENCE (clean manifest chunks are never loaded on the
   * equality path), so the commit is O(affected files + dirty chunks).
   *
   * Why this exists next to [[compact]]: `compact()` folds deletes too, but
   * rewrites the whole table. At 100 TB a day of CDC deletes touches a small
   * fraction of files — rewriting those few files restores metadata-only
   * COUNT(*) and delete-join-free scans at a cost proportional to the
   * damage, not the table. A delete set that masks nothing (victims already
   * compacted away) is dropped in a pure-metadata commit.
   *
   * Returns (data files rewritten, delete files folded). Time travel to
   * pre-fold versions still applies the old deletes (their files and
   * manifests are untouched).
   */
  def foldDeletes(): (Long, Long) = synchronized {
    var result = (0L, 0L)
    retryingCommit("foldDeletes") { snap =>
      result = (0L, 0L)
      if (snap.deletes.nonEmpty) {
        val (vecDel, restDel) = snap.deletes.partition(_.kind == DeleteFile.Vector)
        val (posDel, eqDel) = restDel.partition(_.kind == DeleteFile.Position)
        // Positional victims: exact file paths from the delete files' _dfile
        // column (bounded: delete files are small, bounded by merge traffic
        // between folds). Vector victims are named by the manifest entry
        // itself — zero loads.
        val posTargets: Set[String] =
          (if (posDel.isEmpty) Set.empty[String]
           else readDeletes(posDel)
             .select(col("_dfile")).distinct().collect()
             .map(r => stripScheme(r.getString(0))).toSet) ++
            vecDel.flatMap(_.target).map(stripScheme)
        // Equality victims: key-set prune (range ∧ bloom; degrades to
        // range-only past the collect cap) — the merge path's machinery.
        val eqAffected: Seq[DataFile] =
          if (eqDel.isEmpty) Seq.empty
          else affectedFiles(snap,
            readDeletes(eqDel).select(keyExpr.as("_k")).distinct())._1
        val eqPaths = eqAffected.map(_.path).toSet
        // Path membership can't prune chunks (refs carry ranges, not member
        // paths) — resolving positional victims costs one full metadata pass,
        // paid only when positional deletes are pending.
        val posAffected: Seq[DataFile] =
          if (posTargets.isEmpty) Seq.empty
          else snap.files.iterator
            .filter(f => posTargets.contains(stripScheme(f.path)) && !eqPaths.contains(f.path))
            .toSeq
        val affected = eqAffected ++ posAffected
        val newVersion = snap.version + 1
        if (affected.isEmpty) {
          // masks nothing — drop the delete set, zero data movement
          commit(Snapshot(newVersion, snap.batchId, snap.files, Seq.empty))
        } else {
          val folded = scanWithDeletes(affected, snap.deletes,
            withLineage = rowLineageEnabled)
          val newFiles = writeDataFiles(folded, commitDir(newVersion), seq = newVersion)
          val affectedPaths = affected.map(_.path).toSet
          val carried = snap.files match {
            case mf: ManifestFiles => mf.withoutLazy(affectedPaths,
              c => affected.exists(f => f.pkMax >= c.pkMin && f.pkMin <= c.pkMax))
            case s => s.filterNot(f => affectedPaths.contains(f.path))
          }
          pendingChunkHint = Some((affected, newFiles))
          commit(Snapshot(newVersion, snap.batchId,
            new AppendedFiles(carried, newFiles), Seq.empty))
        }
        result = (affected.length.toLong, snap.deletes.length.toLong)
      }
    }
    result
  }

  /**
   * Sort-order rewrite (Iceberg `rewrite_data_files` with a sort order): the
   * WHOLE table is range-repartitioned on (partition, pk) into `targetFiles`
   * output slices, so every rewritten file covers a DISJOINT pk range.
   *
   * Why it matters at 100 TB: continuous CDC writes each micro-batch's keys
   * wherever they land, so after a day every file's [pkMin, pkMax] spans the
   * whole key domain and min/max manifest pruning degrades to "touch every
   * file". After a clustered rewrite the ranges are disjoint, and a merge
   * touching k keys rewrites O(k/keysPerFile) files instead of all of them.
   * Pending MOR deletes are folded in the same pass. Time travel to older
   * versions is unaffected (their manifests and files are untouched).
   */
  def compactClustered(targetFiles: Int = 0): Unit = synchronized {
    require(targetFiles >= 0, "targetFiles must be >= 0 (0 = session default)")
    retryingCommit("compactClustered") { snap =>
      if (snap.files.nonEmpty) {
        val data = scanWithDeletes(snap.files, snap.deletes,
          withLineage = rowLineageEnabled)
        val rangeCols = partitionCol.map(col).toSeq ++ pkCols.map(col)
        val packed =
          if (targetFiles > 0) data.repartitionByRange(targetFiles, rangeCols: _*)
          else data.repartitionByRange(rangeCols: _*)
        val newVersion = snap.version + 1
        val newFiles = writeDataFiles(packed, commitDir(newVersion), seq = newVersion)
        commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
      }
    }
  }

  /**
   * Z-ORDER rewrite (Iceberg `rewrite_data_files` with a z-order strategy):
   * range-repartition the WHOLE table on the 2-D Morton code of `zCols`, so
   * every output file covers a small rectangle of the (a, b) plane — after
   * which the per-column min/max stats the manifest already carries are
   * TIGHT in BOTH dimensions and ManifestFileIndex prunes 2-dimensional
   * box predicates to the few files whose rectangles intersect.
   *
   * Why it matters at 100 TB: PK-clustered files prune PK predicates only;
   * a dashboard's `WHERE user BETWEEN … AND ts BETWEEN …` touches every
   * file. Z-ordering trades one full rewrite for per-query I/O proportional
   * to the box's area fraction.
   *
   * The Morton key is built from codegen'd bitwise builtins
   * ([[graft.functions.ZOrder]]); normalization ranges come from the
   * manifest's own column stats when every file carries them (zero extra
   * I/O) and fall back to one tiny agg over the columns otherwise. Pending
   * MOR deletes are folded in; time travel to pre-rewrite versions is
   * unaffected; rewritten files are stamped with the current partition spec.
   */
  def compactZOrdered(zCols: Seq[String], targetFiles: Int = 0): Unit = synchronized {
    require(zCols.length == 2, s"z-order takes exactly two columns, got $zCols")
    zCols.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"z-order column '$c' not in table schema"))
    require(targetFiles >= 0, "targetFiles must be >= 0 (0 = session default)")
    retryingCommit("compactZOrdered") { snap =>
      if (snap.files.nonEmpty) {
        // Global [min,max] per z column: manifest stats first (the PK's live
        // in pkMin/pkMax unless hash-domain; others in per-file stats).
        def manifestRange(c: String): Option[(Long, Long)] = {
          val lc = c.toLowerCase(java.util.Locale.ROOT)
          val per = snap.files.map { f =>
            if (!pkHashed && pkCols.head.equalsIgnoreCase(c)) Some((f.pkMin, f.pkMax))
            else f.stats.get(lc)
          }
          if (per.nonEmpty && per.forall(_.isDefined))
            Some((per.map(_.get._1).min, per.map(_.get._2).max))
          else None
        }
        val data = scanWithDeletes(snap.files, snap.deletes,
          withLineage = rowLineageEnabled)
        val Seq(a, b) = zCols
        val ranges: Option[((Long, Long), (Long, Long))] =
          (manifestRange(a), manifestRange(b)) match {
            case (Some(ra), Some(rb)) => Some((ra, rb))
            case _ =>
              val r = data.agg(
                min(col(a).cast("long")), max(col(a).cast("long")),
                min(col(b).cast("long")), max(col(b).cast("long"))).collect().head
              if (r.anyNull) None // a z column is all-NULL: nothing to cluster on
              else Some(((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
          }
        ranges.foreach { case ((aMin, aMax), (bMin, bMax)) =>
          val z = graft.functions.ZOrder.zValue2(col(a), aMin, aMax, col(b), bMin, bMax)
          val zed = data.withColumn("_z", z)
          val packed =
            if (targetFiles > 0) zed.repartitionByRange(targetFiles, col("_z"))
            else zed.repartitionByRange(col("_z"))
          val newVersion = snap.version + 1
          val newFiles = writeDataFiles(packed.drop("_z"),
            commitDir(newVersion), seq = newVersion)
          commit(Snapshot(newVersion, snap.batchId, newFiles, Seq.empty))
        }
      }
    }
  }

  private def dataFileJson(f: DataFile): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", f.path)
    f.partition match { case Some(p) => o.put("partition", p); case None => o.putNull("partition") }
    o.put("pkMin", f.pkMin); o.put("pkMax", f.pkMax); o.put("rows", f.rows)
    o.put("bytes", f.bytes)
    if (f.specId != 0) o.put("specId", f.specId)
    f.firstRowId.foreach(r => o.put("frid", r))
    f.bloom.foreach(b => o.put("bloom", b))
    if (f.stats.nonEmpty) {
      val st = o.putObject("stats")
      f.stats.foreach { case (c, (mn, mx)) =>
        val arr = st.putArray(c); arr.add(mn); arr.add(mx)
      }
    }
    o
  }

  /** Write one immutable chunk file holding `files`; returns its path. */
  private def writeChunk(files: Seq[DataFile]): String = {
    val path = manifestDir.resolve("chunks").resolve(s"c-${java.util.UUID.randomUUID()}.json")
    val node = mapper.createObjectNode()
    val arr = node.putArray("files")
    files.foreach(f => arr.add(dataFileJson(f)))
    commitIo.putIfAbsent(path, mapper.writeValueAsBytes(node))
    chunkCache.put(path.toString, files.toIndexedSeq)
    path.toString
  }

  /**
   * Split the snapshot's file list into manifest chunks, REUSING the parent
   * version's chunks wherever every file in a chunk survives unchanged — so
   * a commit writes O(changed + new files) of manifest data, not the whole
   * table's file list (Iceberg's manifest-file idea: at a million files, a
   * single-JSON manifest would make every 100-byte commit rewrite ~100 MB).
   * Reusable chunks that have shrunk below half occupancy are folded back
   * into the rewrite pool once more than [[SmallChunkFoldThreshold]] of them
   * accumulate, so chunk count stays O(files/ChunkSize), not O(commits).
   */
  /** Removed/added file hint for [[planChunks]], set by mutation entry
    * points that know their exact delta (append, the three merges): clean
    * parent chunks are then reused BY REFERENCE — stats carried from the
    * parent manifest, zero chunk loads — and only chunks whose pk range
    * overlaps a removed file load for the exact check. Commit metadata cost
    * becomes O(churn), the Iceberg manifest-reuse property. Entry points
    * without a hint (overwrite, compact, publish, rollback) take the
    * load-and-verify path below. */
  private var pendingChunkHint: Option[(Seq[DataFile], Seq[DataFile])] = None

  /** Row-lineage high-water mark this commit advances to, set by
    * [[writeDataFiles]] when it reserved `firstRowId` ranges; consumed by
    * [[commit]] (commits without new data inherit the parent's mark). Reset
    * per attempt — a retried optimistic commit re-runs writeDataFiles
    * against the fresh snapshot and re-reserves. */
  private var pendingNextRowId: Option[Long] = None

  /** Snapshot-summary OPERATION stamp (Iceberg snapshot summary parity):
    * the mutation entry point's name (merge/append/compact/rollback/…), set
    * by retryingCommit from the label it already carries and written into
    * the manifest — the first thing an operator greps when a table's
    * history needs explaining. */
  private var pendingOp: Option[String] = None

  /** Set by [[rewriteManifests]]: skip parent-chunk reuse entirely and
    * repack every file into full-sized, stat-carrying chunks. */
  private var pendingRepack: Boolean = false

  /** Set by [[replaceWith]]: stamp the commit's manifest with the new
    * pk/partition spec (`replace` node) so a crash before the `_table.json`
    * rewrite is healable from the manifest alone (see
    * [[TransactionalTable.healReplace]]). */
  private var pendingReplaceStamp: Boolean = false

  /**
   * Iceberg `rewrite_manifests` parity: repack the manifest into full-sized
   * chunks with freshly computed chunk-level stats — METADATA-ONLY (no data
   * file is read or written; the snapshot's file list is unchanged). Heals
   * two forms of metadata debt: chunk fragmentation from many small commits
   * (each commit adds a small chunk; reads pay per-chunk I/O) and stat-less
   * legacy chunk refs, whose sentinel ranges disable chunk-level pruning.
   * Returns (chunks before, chunks after). The pre-rewrite snapshot stays
   * time-travelable like any other commit.
   */
  def rewriteManifests(): (Long, Long) = synchronized {
    val before = chunkPathsOf(currentVersion).length.toLong
    retryingCommit("rewriteManifests") { snap =>
      pendingRepack = true
      try commit(Snapshot(snap.version + 1, snap.batchId,
        snap.files.toIndexedSeq, snap.deletes))
      finally pendingRepack = false
    }
    (before, chunkPathsOf(currentVersion).length.toLong)
  }

  private def planChunks(s: Snapshot): Seq[ChunkRef] = {
    if (pendingRepack)
      return s.files.grouped(ChunkSize).map(g => ChunkRef.of(writeChunk(g), g)).toSeq
    val parentRefs: Seq[ChunkRef] =
      if (s.version == 0) Seq.empty
      else manifestNode(s.version - 1).fold(Seq.empty[ChunkRef])(chunkRefsOf)
    val hint = pendingChunkHint
    pendingChunkHint = None // consumed — never leaks into an unrelated commit
    hint match {
      case Some((removedFiles, addedFiles)) =>
        // Hinted path. Soundness: snapshot = parent − removed + added, and a
        // chunk ⊆ parent whose pk range misses every removed file contains
        // no removed file — it survives verbatim. Stat-less legacy refs have
        // sentinel full ranges → always dirty → always verified by load.
        val dirtyTest: ChunkRef => Boolean = c =>
          removedFiles.exists(f => f.pkMax >= c.pkMin && f.pkMin <= c.pkMax)
        val (dirty, clean) = parentRefs.filter(_.count > 0).partition(dirtyTest)
        val removedPaths = removedFiles.map(_.path).toSet
        // Dirty chunks load (cache-hot — the merge's own planning just read
        // them): untouched ones are kept, the rest contribute survivors.
        val (touched, untouchedDirty) = dirty.map(c => c -> loadChunk(c.path))
          .partition { case (_, fs) => fs.exists(f => removedPaths.contains(f.path)) }
        val keptRefs0 = clean ++ untouchedDirty.map(_._1)
        val (small, big) = keptRefs0.partition(_.count < ChunkSize / 2)
        val fold = small.length > SmallChunkFoldThreshold
        val kept = if (fold) big else keptRefs0
        val survivors =
          touched.flatMap(_._2).filterNot(f => removedPaths.contains(f.path)) ++
            (if (fold) small.flatMap(c => loadChunk(c.path)) else Seq.empty)
        val remaining = survivors ++ addedFiles
        val fresh = remaining.grouped(ChunkSize).map(g => ChunkRef.of(writeChunk(g), g)).toSeq
        // Safety net: the planned chunks must account for EXACTLY the
        // snapshot's files — an inconsistent hint falls back to the
        // load-and-verify path rather than committing a wrong manifest.
        if (kept.iterator.map(_.count).sum + fresh.iterator.map(_.count).sum
            != s.files.length)
          planChunksVerified(s, parentRefs)
        else kept ++ fresh
      case None => planChunksVerified(s, parentRefs)
    }
  }

  /** Hint-free chunk planning: load every parent chunk and keep those whose
    * files ALL survive into the snapshot. O(parent chunks) loads — correct
    * for any mutation shape, the fallback for unhinted commits. */
  private def planChunksVerified(s: Snapshot, parentRefs: Seq[ChunkRef]): Seq[ChunkRef] = {
    val byPath = s.files.map(f => f.path -> f).toMap
    val reusable = parentRefs.map(_.path).flatMap { p =>
      val files = loadChunk(p)
      if (files.nonEmpty && files.forall(f => byPath.contains(f.path))) Some(p -> files)
      else None
    }
    val (small, big) = reusable.partition(_._2.length < ChunkSize / 2)
    val kept = if (small.length > SmallChunkFoldThreshold) big else reusable
    // Chunk-level stats (pk range, partitions, merged column stats) computed
    // from the in-memory entries — reused chunks were loaded for the reuse
    // check anyway, fresh chunks are in hand.
    val keptRefs = kept.map { case (p, fs) => ChunkRef.of(p, fs) }
    val coveredPaths = kept.iterator.flatMap(_._2).map(_.path).toSet
    val remaining = s.files.filterNot(f => coveredPaths.contains(f.path))
    val fresh = remaining.grouped(ChunkSize).map(g => ChunkRef.of(writeChunk(g), g)).toSeq
    keptRefs ++ fresh
  }

  /** Durably write the manifest, then atomically swap the current pointer.
    *
    * Concurrency protocol (optimistic, the local stand-in for the reference's
    * DynamoDB commit lock, `job:57-58`): the CREATE_NEW write of
    * `v{N}.json` is the atomic claim on version N — exactly one writer can
    * create it. A writer that finds the pointer advanced or the claim taken
    * throws [[ConcurrentCommitException]], and the mutation entry points
    * recompute against the fresh snapshot (retryingCommit). A claim file
    * whose version is AHEAD of the pointer is either a writer mid-swap
    * (microseconds) or a crashed attempt; only after [[OrphanManifestGraceMs]]
    * of age is it treated as crashed and replaced — an in-flight winner's
    * manifest is never deleted. */
  private def commit(s: Snapshot): Unit = {
    val pendingNrid = pendingNextRowId
    pendingNextRowId = None // consumed — never leaks into an unrelated commit
    val wroteShred = pendingWroteShredSpec
    pendingWroteShredSpec = None // consumed — never leaks into an unrelated commit
    if (s.version > 0 && pointerVersion.exists(_ >= s.version))
      throw new ConcurrentCommitException(
        s"version ${s.version} already committed (root=$root)")
    // Shred-spec stability: files shaped under a spec another handle has
    // since changed must not land (their side-columns would be missing or
    // stale under the LIVE spec — silently-NULL shredded reads). Retryable:
    // the recompute re-reads the live spec and rewrites correctly. The
    // materializing rewrite itself (pendingShredSpec set) is exempt — it
    // intentionally writes ahead of the flip.
    wroteShred.foreach { used =>
      if (pendingShredSpec.isEmpty && used != variantShred)
        throw new ConcurrentCommitException(
          s"variant shred spec changed concurrently while writing data files (root=$root)")
    }
    val chunkRefs = planChunks(s)
    val node = mapper.createObjectNode()
    node.put("version", s.version); node.put("batchId", s.batchId)
    node.put("committedAtMs",
      if (s.committedAtMs > 0) s.committedAtMs else System.currentTimeMillis())
    // Row-lineage high-water mark: advance to this commit's reservation (data
    // writes) or inherit the parent's (metadata-only commits, rollback — ids
    // of discarded rows are never reused). Monotone by max().
    val nrid = math.max(pendingNrid.getOrElse(0L), nextRowIdOf(s.version - 1))
    if (nrid > 0) node.put("nextRowId", nrid)
    pendingOp.foreach(op => node.put("op", op))
    // Commit-time schema stamp: time travel reads each version under the
    // schema it was written with (schemaAt), so DROP COLUMN cannot rewrite
    // history.
    node.put("schemaJson", schema.json)
    if (pendingReplaceStamp) {
      // RTAS crash healing: the manifest carries everything _table.json
      // would — pk and partition spec (schema is stamped above) — so the
      // commit alone fully defines the replaced table.
      val r = node.putObject("replace")
      r.put("pk", pk)
      partitionSpec.foreach { p =>
        val pt = r.putObject("partitionTransform")
        pt.put("kind", p.kind); pt.put("col", p.col)
        p match {
          case PartitionTransform.Bucket(n, _) => pt.put("n", n)
          case PartitionTransform.Truncate(w, _) => pt.put("n", w)
          case _ => ()
        }
      }
    }
    val arr = node.putArray("chunks")
    chunkRefs.foreach { c =>
      val o = mapper.createObjectNode()
      o.put("path", c.path); o.put("n", c.count)
      o.put("pkMin", c.pkMin); o.put("pkMax", c.pkMax)
      o.put("rows", c.rows); o.put("bytes", c.bytes)
      c.partitions.foreach { ps =>
        val pa = o.putArray("parts"); ps.foreach(pa.add)
      }
      c.specId.foreach(sid => o.put("spec", sid))
      if (c.minFileRows >= 0) o.put("minRows", c.minFileRows)
      if (c.stats.nonEmpty) {
        val so = o.putObject("stats")
        c.stats.foreach { case (k, (mn, mx)) =>
          val a = so.putArray(k); a.add(mn); a.add(mx)
        }
      }
      arr.add(o)
    }
    if (s.deletes.nonEmpty) {
      val darr = node.putArray("deletes")
      s.deletes.foreach { d =>
        val o = mapper.createObjectNode()
        o.put("path", d.path); o.put("pkMin", d.pkMin); o.put("pkMax", d.pkMax)
        o.put("rows", d.rows); o.put("bytes", d.bytes); o.put("kind", d.kind)
        d.target.foreach { t =>
          o.put("target", t); o.put("off", d.offset); o.put("len", d.length)
        }
        darr.add(o)
      }
    }
    // Per-writer replay fences: inherit the parent's map (fences only ever
    // grow — a compaction or rollback must never wipe another stream's
    // progress), then fold in this commit's update. The parent map rides in
    // from retryingCommit; commits outside that path (create, publish edge
    // cases) fall back to a fences-only parent read — no chunk loads.
    val inheritedFences =
      if (s.writerFences.nonEmpty) s.writerFences
      else pendingParentFences.getOrElse {
        try pointerVersion.flatMap(manifestNode).fold(Map.empty[String, Long])(writerFencesOf)
        catch { case _: Exception => Map.empty[String, Long] }
      }
    // fences are monotone: an extra-fence update never lowers an inherited mark
    val grownExtra = pendingExtraFences.map { case (k, v) =>
      k -> math.max(v, inheritedFences.getOrElse(k, -1L))
    }
    val effectiveFences = inheritedFences ++ grownExtra ++ pendingWriterFence
    if (effectiveFences.nonEmpty) {
      val fo = node.putObject("writerFences")
      effectiveFences.foreach { case (k, v) => fo.put(k, v) }
    }
    val mPath = manifestPath(s.version)
    val bytes = mapper.writeValueAsBytes(node)
    // claim + publish run through the CommitIO contract (r17): the claim
    // needs only a conditional PUT, the publish only a full-object replace
    // — no rename semantics anywhere, so the protocol ports to S3-class
    // stores as-is (see CommitIO's scaladoc; ObjectStoreCommitSpec proves
    // it on a simulated no-rename store)
    try commitIo.putIfAbsent(mPath, bytes)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      if (pointerVersion.exists(_ >= s.version))
        throw new ConcurrentCommitException(
          s"manifest v${s.version} committed by another writer (root=$root)")
      // Claim exists but the pointer hasn't reached it: in-flight writer
      // (lose the race, retry) — unless it has sat un-pointed past the grace
      // window, which only a crash between claim and swap produces.
      val ageMs = try System.currentTimeMillis() - commitIo.modifiedAtMs(mPath)
        catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
      if (ageMs < OrphanManifestGraceMs)
        throw new ConcurrentCommitException(
          s"manifest v${s.version} claimed by an in-flight writer (root=$root)")
      commitIo.delete(mPath)
      commitIo.putIfAbsent(mPath, bytes)
    }
    commitIo.putAtomic(pointerPath, s.version.toString.getBytes)
  }
}

object TransactionalTable {
  private[table] val mapper = new ObjectMapper()
  /** Above this many touched keys per batch we stop collecting the exact key set
   *  for file pruning and use the batch's [min,max] PK range instead. */
  val MaxCollectedKeys = 1 << 20
  /** Above this many total serialized deletion-vector bytes the scan stops
    * carrying the bitmaps in-plan (codegen filter probe) and expands them
    * into an anti-join — the same broadcast-vs-shuffle bound the other
    * delete kinds apply via [[MaxCollectedKeys]]. */
  val DvBroadcastMaxBytes = 64L << 20
  /** Optimistic-concurrency knobs: retries per mutation, linear-backoff base,
    * and how long an un-pointed manifest claim must sit before it is presumed
    * crashed (total retry budget spans the grace window, so a crashed claim
    * self-heals within one mutation call). */
  val MaxCommitRetries = 6
  val CommitRetryBackoffMs = 250L
  val OrphanManifestGraceMs = 3000L
  /** Max data-file entries per manifest chunk. */
  val ChunkSize = 512
  /** More than this many under-half-full reusable chunks → fold them into a
    * rewrite so chunk count tracks O(files/ChunkSize), not O(commits). */
  val SmallChunkFoldThreshold = 8
  /** Write-once chunk cache (path → entries); bounded, cleared wholesale on
    * overflow — immutability makes staleness impossible. */
  private[table] val chunkCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFile]]()
  private[table] val MaxCachedChunks = 4096
  /** Cache-miss chunk loads — observability for the "pruned planning loads
    * only matching chunks" guarantee (asserted by ManifestShardingSpec). */
  val chunkLoads = new java.util.concurrent.atomic.AtomicLong()

  def create(spark: SparkSession, root: String, schema: StructType, pk: String,
      partitionCol: Option[String] = None): TransactionalTable =
    createPartitioned(spark, root, schema, pk,
      partitionCol.map(PartitionTransform.Identity.apply))

  /** [[create]] with a hidden-partitioning transform (days/hours/bucket —
    * Iceberg partition-spec parity). */
  def createPartitioned(spark: SparkSession, root: String, schema: StructType,
      pk: String, partition: Option[PartitionTransform]): TransactionalTable = {
    if (exists(root))
      throw new IllegalStateException(s"table already exists at $root — use load/open")
    // A rename marker can only be stale here (had the move happened, this
    // create would have failed on exists) — sweep it so it can never heal
    // ONTO the fresh table being created at this root.
    PosixCommitIO.delete(renameMarker(root))
    val t = new TransactionalTable(spark, root, schema, pk, partition)
    // Self-describing table: persist schema/pk/partitioning so catalogs
    // (graft.sql.GraftCatalog) and tools can open the table from its path
    // alone (what Iceberg keeps in table metadata files).
    writeTableMeta(root, schema, pk, partition)
    t.pendingOp = Some("create")
    try t.commit(Snapshot(0L, -1L, Seq.empty)) finally t.pendingOp = None
    t
  }

  /** (Re)write `_table.json` atomically — also the schema-evolution commit
    * point (addColumn): readers see either the old or the new schema, never
    * a torn file. */
  private[table] def writeTableMeta(root: String, schema: StructType, pk: String,
      partition: Option[PartitionTransform],
      renames: Map[String, Seq[String]] = Map.empty,
      pastSpecs: Map[Int, PartitionTransform] = Map.empty,
      currentSpecId: Int = 0,
      metaVersion: Option[Long] = None,
      /** REPLACE semantics (RTAS): contents are wholly new, so
        * content-describing metadata must NOT survive — custom.* stamps
        * (PQ books/fences trained on the replaced rows), variant shreds,
        * row lineage, bloom columns (schema-bound). Only schema-free
        * WRITER behavior carries: distribution, file sizing, sort order,
        * auto-compaction (the MV full-recompute path rides replaceWith —
        * losing the cadence there would undo bounded-file maintenance). */
      replaceSemantics: Boolean = false,
      /** Static callers (create, heal) publish via POSIX; instance paths
        * pass their handle's [[CommitIO]] so an injected store covers
        * schema-evolution rewrites too. */
      io: CommitIO = PosixCommitIO): Unit = {
    val meta = mapper.createObjectNode()
    meta.put("schemaJson", schema.json)
    meta.put("pk", pk)
    // Legacy field kept for older readers (identity semantics); the full
    // transform lives in `partitionTransform`.
    partition match {
      case Some(p) => meta.put("partitionCol", p.col)
      case None => meta.putNull("partitionCol")
    }
    def transformJson(target: com.fasterxml.jackson.databind.node.ObjectNode,
        p: PartitionTransform): Unit = {
      target.put("kind", p.kind)
      target.put("col", p.col)
      p match {
        case PartitionTransform.Bucket(n, _) => target.put("n", n)
        case PartitionTransform.Truncate(w, _) => target.put("n", w)
        case _ => ()
      }
    }
    partition.foreach(p => transformJson(meta.putObject("partitionTransform"), p))
    // Partition evolution: spec ids of every PAST era that had a transform,
    // plus the id new files are stamped with. Absent on never-evolved tables.
    if (pastSpecs.nonEmpty || currentSpecId != 0) {
      meta.put("currentSpecId", currentSpecId)
      val sp = meta.putObject("pastSpecs")
      pastSpecs.foreach { case (id, p) => transformJson(sp.putObject(id.toString), p) }
    }
    if (renames.nonEmpty) {
      val rn = meta.putObject("renames")
      renames.foreach { case (cur, olds) =>
        val arr = rn.putArray(cur); olds.foreach(arr.add)
      }
    }
    // Writer-behavior properties are orthogonal metadata owned by their
    // setters — a schema/partition-evolution or replace rewrite of
    // _table.json must carry them forward, not silently reset them to
    // defaults. EVERY field this function does not itself own is carried:
    // the original allowlist (writeDistribution/maxRecordsPerFile/
    // sortOrder) silently DROPPED auto-compaction, parquet blooms, the
    // compression codec, per-op write modes, variant shreds and all
    // `custom.*` metadata (PQ codebooks, ANN retrain stats) on the first
    // ALTER TABLE — properties must survive DDL, the Iceberg posture.
    val structuralKeys = Set("schemaJson", "pk", "partitionCol",
      "partitionTransform", "currentSpecId", "pastSpecs", "renames",
      "metaVersion")
    // Under replace, content/schema-bound keys are dropped (fresh-table
    // semantics); only the schema-free writer-behavior allowlist survives.
    val replaceCarried = Set("writeDistribution", "maxRecordsPerFile",
      "sortOrder", "autoCompactMinFiles", "autoCompactTargetRows")
    def carries(f: String): Boolean =
      !structuralKeys(f) && (!replaceSemantics || replaceCarried(f))
    io.readIfExists(Paths.get(root, "_table.json")).foreach { bytes =>
      val old = mapper.readTree(bytes)
      old.fieldNames().asScala.filter(carries).foreach { f =>
        meta.set[com.fasterxml.jackson.databind.JsonNode](f, old.get(f)); ()
      }
      // RTAS watermark: the replace-commit version this meta is synced to.
      // Carried forward by every later ALTER so the heal check
      // (metaVersion < replace version ⇒ stale cache) can never regress
      // below a replace that already reached _table.json.
      if (metaVersion.isEmpty && old.has("metaVersion"))
        meta.put("metaVersion", old.get("metaVersion").asLong())
    }
    metaVersion.foreach(v => meta.put("metaVersion", v))
    io.putAtomic(Paths.get(root, "_table.json"), mapper.writeValueAsBytes(meta))
  }

  /** SQL row-level operations whose write strategy is independently
    * property-configurable (Iceberg's write.<op>.mode split). */
  val RowLevelOps: Set[String] = Set("merge", "delete", "update")

  private[table] def rowLevelKey(op: String): String = s"writeMode_$op"

  /** Physical side-column name for a shredded variant field — pure string
    * derivation, no table state. */
  private[graft] def shredPhysical(varCol: String, name: String): String =
    s"_sh_${varCol.toLowerCase(java.util.Locale.ROOT)}_${name.toLowerCase(java.util.Locale.ROOT)}"

  /** SQL-facing mode name → engine [[MergeMode]] (Iceberg value vocabulary
    * plus the engine's two finer merge-on-read shapes). */
  def parseMergeModeName(v: String): MergeMode = v match {
    case "copy-on-write" => MergeMode.CopyOnWrite
    case "merge-on-read" => MergeMode.MergeOnRead
    case "merge-on-read-positional" => MergeMode.MergeOnReadPositional
    case "merge-on-read-vector" => MergeMode.MergeOnReadVector
    case other => throw new IllegalArgumentException(
      s"unknown write mode '$other' (copy-on-write | merge-on-read | " +
        "merge-on-read-positional | merge-on-read-vector)")
  }

  def load(spark: SparkSession, root: String, schema: StructType, pk: String,
      partitionCol: Option[String] = None): TransactionalTable =
    new TransactionalTable(spark, root, schema, pk,
      partitionCol.map(PartitionTransform.Identity.apply))

  /** Crash marker a [[TransactionalTable.replaceWith]] leaves between its
    * commit and the `_table.json` rewrite; [[healReplace]] consumes it. */
  private[table] val ReplacePendingMarker = "_replace_pending"

  /** RTAS crash recovery: when a `_replace_pending` marker survived (the
    * replace committed but crashed before rewriting `_table.json`), rebuild
    * the meta cache from the head manifest's `replace` stamp. Age-gated
    * like orphaned manifest claims: a FRESH marker belongs to an in-flight
    * replace and is left alone — its owner finishes (or crashes, and the
    * next open past the grace window heals). Idempotent and race-safe: the
    * meta rewrite is an atomic move, and `metaVersion` ordering makes a
    * late heal of an already-synced meta a no-op. */
  private def healReplace(root: String): Unit = {
    val io = PosixCommitIO
    val marker = Paths.get(root, ReplacePendingMarker)
    val ageMs = try System.currentTimeMillis() - io.modifiedAtMs(marker)
      catch { case _: java.nio.file.NoSuchFileException => return }
    if (ageMs < OrphanManifestGraceMs) return
    io.readLong(Paths.get(root, "_current")).foreach { v =>
      io.readIfExists(Paths.get(root, "manifest", s"v$v.json")).foreach { mf =>
        val node = mapper.readTree(mf)
        val metaNode = mapper.readTree(io.read(Paths.get(root, "_table.json")))
        val synced = if (metaNode.has("metaVersion")) metaNode.get("metaVersion").asLong else -1L
        if (node.has("replace") && synced < v) {
          val r = node.get("replace")
          val sch = org.apache.spark.sql.types.DataType.fromJson(
            node.get("schemaJson").asText()).asInstanceOf[StructType]
          val part = if (!r.has("partitionTransform")) None else {
            val pt = r.get("partitionTransform")
            Some(PartitionTransform(pt.get("kind").asText(), pt.get("col").asText(),
              if (pt.has("n")) pt.get("n").asInt() else 0))
          }
          writeTableMeta(root, sch, r.get("pk").asText(), part,
            metaVersion = Some(v), replaceSemantics = true)
        }
      }
    }
    io.delete(marker)
  }

  /** Open a table from its path alone, using the persisted `_table.json`. */
  /** Marker beside the TARGET root during [[renameRoot]]: a crash between
    * the directory move and the metadata-path rewrite leaves it, and
    * [[open]] completes the rewrite before serving (idempotent — once
    * rewritten, the old prefix no longer appears). Holds the old root. */
  private def renameMarker(root: String) = Paths.get(root + ".rename_pending")

  /**
   * RENAME the table directory (E214 — `ALTER TABLE ... RENAME TO` parity;
   * `GraftCatalog.renameTable` lowers here). Manifest/chunk JSON stores
   * data- and delete-file paths ABSOLUTE, so the rename is the atomic
   * directory move plus ONE metadata pass: every `.json` file under the
   * new root replaces the QUOTED old-root path prefix with the new one —
   * files registered from OUTSIDE the root (`add_files` externals) keep
   * their paths by construction (prefix match only), and data/delete files
   * themselves are untouched (parquet/bitmaps carry no self-paths). Cost
   * is O(metadata JSON), zero data movement.
   *
   * Crash safety: the `<newRoot>.rename_pending` marker brackets
   * move + rewrite; [[open]] heals an interrupted rename, and a marker
   * whose target directory never materialized is swept as stale (the
   * source is intact — re-issue the rename). Open handles on the old root
   * are invalidated, exactly as by DROP.
   */
  def renameRoot(oldRoot: String, newRoot: String): Unit = {
    // a chained rename (A->B crashed mid-rewrite, then B->C) must complete
    // B's pending rewrite FIRST — moving half-healed metadata would strand
    // stale "A/" prefixes under C where no marker can ever find them again
    healRename(oldRoot)
    require(exists(oldRoot), s"no table at $oldRoot")
    require(!Files.exists(Paths.get(newRoot)),
      s"rename target already exists: $newRoot")
    val marker = renameMarker(newRoot)
    Files.write(marker,
      oldRoot.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(Paths.get(oldRoot), Paths.get(newRoot),
      StandardCopyOption.ATOMIC_MOVE)
    rewritePathPrefix(newRoot, oldRoot)
    Files.deleteIfExists(marker)
    ()
  }

  /** Replace the quoted `oldRoot/` path prefix with `root/` in every
    * metadata JSON under `root` — atomic per file, idempotent overall. */
  private def rewritePathPrefix(root: String, oldRoot: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val oldPrefix = "\"" + oldRoot + "/"
    val newPrefix = "\"" + root + "/"
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") && Files.isRegularFile(p))
      .foreach { p =>
        val s = new String(Files.readAllBytes(p), utf8)
        if (s.contains(oldPrefix)) {
          val tmp = p.resolveSibling(p.getFileName.toString + ".rntmp")
          Files.write(tmp, s.replace(oldPrefix, newPrefix).getBytes(utf8),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
    finally walk.close()
  }

  private def healRename(root: String): Unit = {
    val marker = renameMarker(root)
    if (Files.exists(marker)) {
      val oldRoot = new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (!Files.isDirectory(Paths.get(root))) {
        // target never materialized (crash before the move): the source is
        // intact, the marker is stale — sweep it
        Files.deleteIfExists(marker)
        ()
      } else if (!exists(oldRoot)) {
        // the move provably happened (it takes the WHOLE source directory,
        // so the old root cannot still hold a table): complete the rewrite
        rewritePathPrefix(root, oldRoot)
        Files.deleteIfExists(marker)
        ()
      } else {
        // AMBIGUOUS: both roots hold state — either the crash hit before
        // the move (marker stale) or something re-created a table at the
        // old root after a completed move. Rewriting could corrupt an
        // unrelated table; sweeping would destroy the only recovery record
        // for a genuinely half-renamed target. Refuse loudly.
        throw new IllegalStateException(
          s"rename of $oldRoot -> $root is in an ambiguous crashed state " +
            "(both roots hold a table and the rename marker is present). " +
            "If the rename never completed, drop/move the table now at " +
            s"$oldRoot and re-open; if $root is a NEW unrelated table, " +
            s"delete the stale marker $marker")
      }
    }
  }

  def open(spark: SparkSession, root: String): TransactionalTable = {
    healRename(root)
    healReplace(root)
    val meta = mapper.readTree(PosixCommitIO.read(Paths.get(root, "_table.json")))
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      meta.get("schemaJson").asText()).asInstanceOf[StructType]
    val part =
      if (meta.has("partitionTransform")) {
        val pt = meta.get("partitionTransform")
        Some(PartitionTransform(pt.get("kind").asText(), pt.get("col").asText(),
          if (pt.has("n")) pt.get("n").asInt() else 0))
      } else if (meta.get("partitionCol").isNull) None
      else Some(PartitionTransform.Identity(meta.get("partitionCol").asText()))
    val renames =
      if (!meta.has("renames")) Map.empty[String, Seq[String]]
      else meta.get("renames").properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    val pastSpecs =
      if (!meta.has("pastSpecs")) Map.empty[Int, PartitionTransform]
      else meta.get("pastSpecs").properties().asScala.map { e =>
        val pt = e.getValue
        e.getKey.toInt -> PartitionTransform(pt.get("kind").asText(),
          pt.get("col").asText(), if (pt.has("n")) pt.get("n").asInt() else 0)
      }.toMap
    val currentSpecId = if (meta.has("currentSpecId")) meta.get("currentSpecId").asInt() else 0
    new TransactionalTable(spark, root, schema, meta.get("pk").asText(), part, renames,
      pastSpecs, currentSpecId)
  }

  def exists(root: String): Boolean = PosixCommitIO.exists(Paths.get(root, "_current"))

  /** True if any of the sorted keys falls within [lo, hi] — binary search, O(log n). */
  private[table] def overlaps(sortedKeys: Array[Long], lo: Long, hi: Long): Boolean = {
    var a = 0; var b = sortedKeys.length - 1
    // find first key >= lo
    var pos = sortedKeys.length
    while (a <= b) {
      val m = (a + b) >>> 1
      if (sortedKeys(m) >= lo) { pos = m; b = m - 1 } else a = m + 1
    }
    pos < sortedKeys.length && sortedKeys(pos) <= hi
  }

  /** The sorted keys falling within [lo, hi] (binary-searched slice view). */
  private[table] def keysInRange(sortedKeys: Array[Long], lo: Long, hi: Long): Seq[Long] = {
    var a = 0; var b = sortedKeys.length - 1; var pos = sortedKeys.length
    while (a <= b) {
      val m = (a + b) >>> 1
      if (sortedKeys(m) >= lo) { pos = m; b = m - 1 } else a = m + 1
    }
    val from = pos
    var to = from
    while (to < sortedKeys.length && sortedKeys(to) <= hi) to += 1
    sortedKeys.view.slice(from, to).toSeq
  }

  // --- PK Bloom filter: bit-math shared with the SQL planner via
  // graft.util.Bloom (fixed 2^16 bits, k=5, deterministic) ---
  /** Files above this row count skip the bloom: at 8 KiB the bitset would
    * saturate (fp → 1) and the manifest would carry dead weight. */
  val BloomMaxRows = 8192L

  private[table] def bloomContains(words: Array[Long], key: Long): Boolean =
    graft.util.Bloom.contains(words, key)
  private[table] def bloomWords(b64: String): Array[Long] =
    graft.util.Bloom.decode(b64)

  /** input_file_name() yields URL-encoded URIs; decode via URI so table roots
    * containing spaces/%/non-ASCII round-trip (plain prefix-stripping would
    * store percent-encoded paths the next scan cannot open). */
  private def stripScheme(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme == null) p else u.getPath
    } catch { case _: java.net.URISyntaxException => p }
}
