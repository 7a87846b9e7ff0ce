package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.table.TransactionalTable

/**
 * Persistent VIDEO near-duplicate index — the temporal member of the index
 * family (text [[DedupIndex]], image/audio [[HammingIndex]] bindings):
 * incremental clip dedup where the corpus is never re-paired per ingest.
 *
 * The unit of similarity is the TIME-ALIGNED FRAME (per-frame dHash, the
 * [[MultimodalOps.videoNearDupPairs]] kernel), but the unit of the DEDUP
 * DECISION is the clip: a batch clip is a corpus dup when ≥ `minMatchFrac`
 * of the shorter side's sampled frames match ANY single indexed clip
 * within Hamming `maxDist`. That fraction rule needs the indexed clip's
 * frame count at probe time, so `n_frames` is denormalized onto every
 * index row (one row per kept frame per band — buckets repeat, rows are
 * tiny fixed-width longs).
 *
 * Per batch: (1) frame-level banded join against the index keyed by
 * (pos, band, chunk) — only time-aligned hash-colliding frames ever meet —
 * refined by exact `bit_count`, rolled up per (batch clip, index clip)
 * pair and gated by the fraction rule; (2) the same rule among in-batch
 * survivors (smaller media_id wins); (3) survivors' frame-band signatures
 * land in ONE replay-fenced commit stamped with the batch id, and the
 * RETURNED kept set is read back from the committed rows of that batch —
 * a re-delivered batch (whose commit the fence no-ops) returns the
 * ORIGINAL kept set bit-for-bit instead of a recomputation that could
 * diverge on transitive in-batch chains (see [[HammingIndex]]; ADVICE
 * r14). Payloads that decode no frames are kept, bandless. `compactEvery`
 * bounds index files exactly like the other indexes.
 */
object VideoDedupIndex {

  /** Index row: one per (kept clip, sampled frame, band). `batch` stamps
    * the fenced commit that kept the clip (replay read-back). */
  val Schema: StructType = StructType(Seq(
    StructField("sig_id", LongType), StructField("pos", LongType),
    StructField("band", LongType), StructField("chunk", LongType),
    StructField("media_id", LongType), StructField("fhash", LongType),
    StructField("n_frames", LongType), StructField("batch", LongType)))

  def create(spark: SparkSession, root: String): TransactionalTable =
    TransactionalTable.create(spark, root, Schema, pk = "sig_id", partitionCol = None)

  /** Legacy (pre-`batch`) index tables fail fast on open — the
    * [[DedupIndex.open]] contract (ADVICE r15). */
  def open(spark: SparkSession, root: String): TransactionalTable =
    DedupIndex.requireBatchColumn(TransactionalTable.open(spark, root), root)

  /** DELETE maintenance (r18 review missing #2): remove `ids`' frame-band
    * rows. The video sig rule keys on (media, POS, band) and the frame
    * positions are not recoverable from the id alone, so — unlike the
    * other banded families — the delete keys come from ONE column-pruned
    * index read semi-joined to the ids (2 long columns; a takedown is an
    * operator action, not a data path), materialized BEFORE the mutation.
    * Fenced in the shared [[DedupIndex.DeleteWriter]] domain: a replayed
    * delete epoch recomputes empty keys and the fence no-ops the merge;
    * re-ingest by a later [[appendBatch]] reappears. */
  def deleteBatch(index: TransactionalTable, ids: DataFrame, batchId: Long,
      idCol: String = "media_id"): Unit =
    graft.util.BatchStats.timed("video_index_delete") {
      // fence FIRST (r19 review pass 1): a re-delivered epoch must not pay
      // the index read + checkpoint just to have the merge no-op
      if (batchId <= index.snapshot.writerFences
          .getOrElse(DedupIndex.DeleteWriter, -1L)) return
      val spark = ids.sparkSession
      val keys = index.scan()
        .join(ids.select(col(idCol).cast("long").as("media_id")),
          Seq("media_id"), "left_semi")
        .select("sig_id").localCheckpoint(true)
      val emptyUpserts = graft.util.Frames.empty(spark, index.schema)
      index.merge(emptyUpserts, keys, batchId,
        writerId = Some(DedupIndex.DeleteWriter))
    }

  /** Filter one batch of media rows (media_id, content) against the index
    * + self-dedup, append the survivors' frame-band signatures as batch
    * `batchId` (replay-fenced), and return the kept media ids. */
  def appendBatch(index: TransactionalTable, media: DataFrame, batchId: Long,
      maxDist: Int = 3, minMatchFrac: Double = 0.5, stride: Int = 1,
      compactEvery: Int = 0): DataFrame =
    graft.util.BatchStats.timed("video_index_batch") {
      val spark = media.sparkSession
      import spark.implicits._
      val fh = MultimodalOps.videoFrameHashes(media, stride)
      val counts = fh.groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      val bands = fh.join(counts, Seq("media_id"))
        .select(col("media_id"), col("pos"), col("fhash"), col("n_frames"),
          explode(expr(
            "transform(sequence(0, 3), c -> named_struct('band', c, 'chunk', (fhash >> (c * 14)) & 16383))"
          )).as("x"))
        .select(col("media_id"), col("pos"), col("fhash"), col("n_frames"),
          col("x.band").cast("long").as("band"), col("x.chunk").as("chunk"))
        .persist()
      // (1) corpus filter: time-aligned banded candidates, exact-Hamming
      // refined, rolled up per clip pair and gated by the fraction rule.
      // The OTHER side always carries disjoint `_o_*` names so the in-batch
      // case (a projection of `cand` joined to `cand`) cannot trip
      // self-join ambiguity.
      def otherSide(df: DataFrame): DataFrame = df.select(
        col("pos").as("_o_pos"), col("band").as("_o_band"),
        col("chunk").as("_o_chunk"), col("media_id").as("_o_media"),
        col("fhash").as("_o_fhash"), col("n_frames").as("_o_n"))
      def fracDup(a: DataFrame, o: DataFrame, smallerId: Boolean): DataFrame =
        a.join(o,
            col("pos") === col("_o_pos") && col("band") === col("_o_band") &&
              col("chunk") === col("_o_chunk") &&
              (if (smallerId) col("_o_media") < col("media_id")
               else col("_o_media") =!= col("media_id")))
          .filter(expr("bit_count(fhash ^ _o_fhash)") <= maxDist)
          .select(col("media_id"), col("pos"), col("_o_media"),
            col("n_frames").as("n_a"), col("_o_n").as("n_b"))
          .distinct() // one vote per aligned frame pair
          .groupBy("media_id", "_o_media", "n_a", "n_b")
          .agg(count(lit(1)).as("m"))
          .filter(col("m") >= ceil(least(col("n_a"), col("n_b")) * lit(minMatchFrac)))
          .select("media_id").distinct()
      val corpusDup = fracDup(bands, otherSide(index.scan()), smallerId = false)
      val cand = bands.join(corpusDup, Seq("media_id"), "left_anti").persist()
      try {
        // (2) in-batch: the same fraction rule, smaller media_id wins
        val inBatchDup = fracDup(cand, otherSide(cand), smallerId = true)
        // frameless payloads (no decodable frames) are kept, bandless —
        // pure function of the batch input, replay-identical
        val hashless = media.select(col("media_id").cast("long").as("media_id"))
          .join(bands.select("media_id").distinct(), Seq("media_id"), "left_anti")
        val keptIds = cand.select("media_id").distinct()
          .join(inBatchDup, Seq("media_id"), "left_anti")
        // (3) one fenced commit of the survivors' frame-band signatures,
        // stamped with this batch id — materialized once so the merge's two
        // passes (key-pruning collect + data-file write) don't re-run the
        // banded joins (r19, the DedupIndex.appendBatch fix)
        val rows = graft.util.JobLabel.labeled(spark, "video-index:kept-bands") {
          cand.join(keptIds, Seq("media_id"), "left_semi")
            .select(
              TextOps.md5Hash60(concat_ws(":", col("media_id"), col("pos"),
                col("band"))).as("sig_id"),
              col("pos"), col("band"), col("chunk"), col("media_id"),
              col("fhash"), col("n_frames"), lit(batchId).as("batch"))
            .localCheckpoint(true)
        }
        index.merge(rows, spark.emptyDataset[Long].toDF("sig_id"), batchId)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          index.compact()
        // Returned kept set READ BACK from this batch's committed rows: a
        // replayed batch's merge no-ops on the fence and the read-back
        // returns the original kept set — never a chain-divergent
        // recomputation (see [[HammingIndex]]).
        graft.util.JobLabel.labeled(spark, "video-index:read-back") {
          // stats-pruned: O(files of the batch), not O(index) (r19)
          index.scanWhereEq("batch", batchId).where(col("batch") === batchId)
            .select("media_id").distinct()
            .unionByName(hashless)
            .localCheckpoint(true)
        }.orderBy("media_id")
      } finally {
        cand.unpersist(blocking = false)
        bands.unpersist(blocking = false)
      }
    }
}
