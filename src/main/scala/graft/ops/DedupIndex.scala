package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.table.TransactionalTable

/**
 * Persistent near-duplicate index — INCREMENTAL corpus dedup, the production
 * posture at 100 TB: the corpus is not re-paired from scratch per ingest;
 * instead the LSH state (SimHash band buckets, [[DedupOps.simhashBands]])
 * lives in a transactional engine table, and each new batch is (1) filtered
 * against the index, (2) self-deduped, (3) its survivors' bands appended in
 * ONE replay-fenced commit. Cost per batch: O(batch bands ⋈ index) — a plain
 * equi-join on well-spread (band, chunk) keys — never O(corpus²), and a
 * crashed/replayed batch is exactly-once (the table's batchId fence turns
 * the re-append into a no-op while the returned kept set is READ BACK from
 * the committed rows of the batch — bit-for-bit the original, never a
 * chain-divergent recomputation; see [[HammingIndex]], ADVICE r14).
 *
 * Dedup rules (deterministic, DuckDB-recomputable bit-for-bit since every
 * hash is md5-derived):
 *  - a batch doc is a CORPUS dup if any of its 4 band chunks already exists
 *    in the index (Hamming-≤3 candidate ⇒ drop — the at-scale route-to-drop
 *    posture; exact-dup docs share all 4 bands and always hit);
 *  - among the remaining batch docs, a doc is an IN-BATCH dup if any of its
 *    bands is shared with a surviving doc of smaller doc_id.
 */
object DedupIndex {

  /** Index row: one per (kept doc, band). `sig_id` (md5-60 of "doc:band")
    * is the synthetic primary key — band buckets themselves repeat.
    * `batch` stamps the fenced commit that kept the doc (replay
    * read-back). */
  val Schema: StructType = StructType(Seq(
    StructField("sig_id", LongType), StructField("band", LongType),
    StructField("chunk", LongType), StructField("doc_id", LongType),
    StructField("batch", LongType)))

  def create(spark: SparkSession, root: String): TransactionalTable =
    TransactionalTable.create(spark, root, Schema, pk = "sig_id", partitionCol = None)

  /** Open an existing index, failing FAST on a pre-`batch`-column table (an
    * index created before the replay read-back landed): appendBatch would
    * otherwise merge 5 columns against 6 and the kept-set read-back would
    * filter on a column that does not exist — recreate the index (or re-add
    * its docs through a fresh one) to migrate (ADVICE r15). NOTE the
    * read-back serves the MOST RECENT batch per doc: a doc re-kept in a
    * later batch overwrites its `batch` stamp on the same sig_id rows. */
  def open(spark: SparkSession, root: String): TransactionalTable =
    requireBatchColumn(TransactionalTable.open(spark, root), root)

  private[ops] def requireBatchColumn(t: TransactionalTable,
      root: String): TransactionalTable = {
    require(t.schema.fieldNames.exists(
        _.equalsIgnoreCase("batch")),
      s"legacy dedup index at $root lacks the 'batch' column (pre-read-back " +
        "schema) — recreate the index; appendBatch cannot serve replay " +
        "read-backs against it")
    t
  }

  /** Writer-fence domain for delete maintenance (r19 — the banded family
    * gets what the ANN index got in r18, [[AnnIndex.DeleteWriter]]):
    * independent of the ingest epoch sequence, so a takedown/
    * retroactive-decontamination posture replay-protects its own delete
    * epochs without fencing out the ingest stream. Shared across the
    * banded family — [[DedupIndex]], [[HammingIndex]] (image/audio
    * bindings) and [[KeepBestIndex]] band rows all key on the same
    * deterministic md5-60("id:band") sig rule. */
  val DeleteWriter = "banded-delete"

  /** The shared banded-family delete kernel: the sig_id of every (id,
    * band) row is a PURE FUNCTION of the id (`md5_60("id:band")`), so the
    * delete keys are recomputed map-only from the ids — one keyed
    * anti-merge over PK-pruned files, NEVER an index scan. Ids with no
    * index rows (bandless keeps, never-indexed, already-deleted) no-op. */
  private[ops] def deleteBandRows(index: TransactionalTable, ids: DataFrame,
      idCol: String, nBands: Int, batchId: Long): Unit = {
    val spark = ids.sparkSession
    val keys = ids.select(col(idCol).cast("long").as("id"))
      .select(col("id"), explode(sequence(lit(0L), lit(nBands - 1L))).as("band"))
      .select(TextOps.md5Hash60(concat_ws(":", col("id"), col("band"))).as("sig_id"))
    val emptyUpserts = graft.util.Frames.empty(spark, index.schema)
    index.merge(emptyUpserts, keys, batchId, writerId = Some(DeleteWriter))
  }

  /**
   * DELETE maintenance (r18 review missing #2 — the banded indexes could
   * not forget): remove `ids`' band rows so a takedown / right-to-be-
   * forgotten removal / retroactive decontamination stops silently
   * suppressing future legitimate near-matches of the removed content.
   * Fenced on `batchId` in the [[DeleteWriter]] domain — a re-delivered
   * delete epoch no-ops, and a deleted id re-ingested by a LATER
   * [[appendBatch]] epoch simply reappears (the delete is a row removal,
   * not a tombstone on the id) — the [[AnnIndex.deleteBatch]] contract.
   */
  def deleteBatch(index: TransactionalTable, ids: DataFrame, batchId: Long,
      idCol: String = "doc_id"): Unit =
    graft.util.BatchStats.timed("dedup_index_delete") {
      deleteBandRows(index, ids, idCol, nBands = 4, batchId = batchId)
    }

  /**
   * Filter `docs` against the index + self-dedup, append the survivors'
   * band signatures as batch `batchId` (replay-fenced), and return the kept
   * doc ids. Safe to call from `foreachBatch`.
   *
   * LIFECYCLE: the index grows by one data file (often more, one per
   * shuffle partition with rows) per batch — unbounded ingest without
   * maintenance makes the per-batch corpus join fan out over ever more
   * small files, the same failure mode [[graft.stream.CdcPipeline]]
   * documents for the CDC table. `compactEvery = k` bin-packs the index
   * every k-th batch (same cadence contract as CdcPipeline's
   * `compactEvery`): file count stays bounded by the compaction interval,
   * per-batch join cost stays flat in batch count. Replay-safe — a
   * re-delivered batch's merge is fenced to a no-op and re-compacting a
   * compacted table is itself a no-op-sized rewrite.
   */
  def appendBatch(index: TransactionalTable, docs: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 0): DataFrame =
    graft.util.BatchStats.timed("dedup_index_batch") {
      appendBatchInner(index, docs, batchId, idCol, textCol, compactEvery)
    }

  private def appendBatchInner(index: TransactionalTable, docs: DataFrame,
      batchId: Long, idCol: String, textCol: String,
      compactEvery: Int): DataFrame = {
    val spark = docs.sparkSession
    // The sketch aggregation (60 bitwise sums over exploded token hashes) is
    // the expensive leg — cache it: the filter, the self-join, and the
    // append all reuse the one computation.
    val bands = DedupOps.simhashBands(DedupOps.simhashSketch(docs, idCol, textCol))
      .select(col("doc_id"), col("band"), col("chunk")).persist()
    // (1) corpus filter: any band hit in the index drops the doc. The index
    // side is the big one — plain shuffle join on the spread (band, chunk)
    // key; the batch side is a micro-batch. Self-matches (same doc_id) are
    // excluded so a REPLAYED batch — whose own survivors' bands are already
    // committed — recomputes the identical kept set instead of grading every
    // original survivor a dup of itself (the fence makes the re-append a
    // no-op; this makes the returned result deterministic too).
    val idx = index.scan()
      .select(col("band"), col("chunk"), col("doc_id").as("_idx_doc"))
    val corpusDup = bands.join(idx,
        bands("band") === idx("band") && bands("chunk") === idx("chunk") &&
          bands("doc_id") =!= col("_idx_doc"), "left_semi")
      .select("doc_id").distinct()
    val cand = bands.join(corpusDup, Seq("doc_id"), "left_anti").persist()
    try {
      // (2) in-batch: smaller doc_id in a shared bucket wins
      val inBatchDup = cand.as("a").join(cand.as("b"),
          col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
            col("b.doc_id") < col("a.doc_id"), "left_semi")
        .select(col("doc_id")).distinct()
      // zero-token docs have no sketch (the explode drops them) — they can
      // be neither a dup nor a dup target, so they are KEPT, bandless (a
      // pure function of the batch input: replays recompute identically)
      val sketchless = docs.select(col(idCol).cast("long").as("doc_id"))
        .join(bands.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      val keptIds = cand.select("doc_id").distinct()
        .join(inBatchDup, Seq("doc_id"), "left_anti")
      // (3) one fenced commit of the survivors' bands, stamped with this
      // batch id. The upsert frame is MATERIALIZED once (lineage-truncated,
      // batch-sized): the merge consumes it twice — the key-pruning collect
      // and the data-file write — and without this each consumption re-ran
      // the whole banded-join cascade above (measured 26 AQE stage-jobs per
      // 2-batch build on plan-keys alone, r19 JobBreak).
      val rows = graft.util.JobLabel.labeled(spark, "dedup-index:kept-bands") {
        cand.join(keptIds, Seq("doc_id"), "left_semi")
          .select(
            TextOps.md5Hash60(concat_ws(":", col("doc_id"), col("band"))).as("sig_id"),
            col("band"), col("chunk"), col("doc_id"), lit(batchId).as("batch"))
          .localCheckpoint(true)
      }
      import spark.implicits._
      index.merge(rows, spark.emptyDataset[Long].toDF("sig_id"), batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        index.compact()
      // Returned kept set READ BACK from this batch's committed rows: a
      // replayed batch's merge no-ops on the fence and the read-back
      // returns the ORIGINAL kept set bit-for-bit — never a recomputation
      // that could diverge on transitive in-batch chains (A<B<C sharing
      // buckets pairwise-adjacently: recomputing against the now-indexed
      // survivors corpus-filters B via A and keeps chain-orphaned C,
      // growing the kept set across deliveries — ADVICE r14). Materialized
      // + lineage-truncated: the result must not re-scan after later
      // batches advance the index.
      graft.util.JobLabel.labeled(spark, "dedup-index:read-back") {
        // stats-pruned: only the files whose footer batch-range can hold this
        // batch are planned — O(files of the batch), not O(index) (r19)
        index.scanWhereEq("batch", batchId).where(col("batch") === batchId)
          .select("doc_id").distinct()
          .unionByName(sketchless)
          .localCheckpoint(true)
      }.orderBy("doc_id")
    } finally {
      cand.unpersist(blocking = false)
      bands.unpersist(blocking = false)
    }
  }
}
