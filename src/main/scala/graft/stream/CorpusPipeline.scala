package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.DedupIndex
import graft.table.TransactionalTable

/**
 * Streaming corpus build — the PRODUCTION ingest posture the persistent
 * dedup index was built for, and the streaming twin of the batch
 * `x4_corpus_build` capstone: an incoming document stream drives, per
 * micro-batch,
 *
 *   1. funnel CLEANING (a caller-supplied keep predicate — the
 *      [[graft.queries.FunnelRules.keep]] rules at the query surface),
 *   2. incremental NEAR-DUP dedup against the persistent
 *      [[DedupIndex]] (banded corpus filter + in-batch rule, survivors'
 *      bands appended in a replay-fenced commit),
 *   3. a replay-fenced MERGE of the kept documents into the corpus
 *      engine table.
 *
 * Exactly-once under restart: steps 2 and 3 are both fenced on the
 * micro-batch id — a crashed/re-delivered epoch recomputes the identical
 * kept set (the index's corpus filter excludes self-matches) and both
 * commits no-op, so the corpus end state is independent of how many times
 * an epoch is delivered. Per-batch cost is O(batch ⋈ index) on spread
 * (band, chunk) keys plus one merge of the kept rows — never a function of
 * corpus size, the shape that holds at 100 TB.
 */
object CorpusPipeline {

  /**
   * One micro-batch: clean → dedup-against-index → fenced corpus commit.
   * Safe to call from `foreachBatch` (and replay-safe when called again
   * with the same `batchId`). Returns the kept doc ids (deterministic,
   * already materialized by the index append).
   */
  /** Continuous-publication binding (E188): where and how to export.
    * `packEvery > 0` folds the accumulated interval dirs into one
    * consolidated export every k-th batch ([[graft.ops.ExportOps.pack]]) —
    * long-running publication otherwise grows one dir per interval and the
    * reader's union fans out without bound. Pack commits are fenced on the
    * export head, so a replayed batch's pack no-ops. */
  final case class Publish(exportRoot: String, nShards: Int, capacity: Long,
      every: Int = 1, packEvery: Int = 0)

  /** Ingest-time decontamination binding (E215): the PRECOMPUTED benchmark
    * window index plus its window length — built once per stream so the
    * benchmark's tokenization/fingerprint pass is never repaid per batch. */
  final case class Decontaminate(benchWindows: DataFrame, window: Int) {
    /** Release the cached benchmark window index. [[run]] calls this
      * automatically when its stream terminates; direct [[processBatch]]
      * callers own the call — a restart loop that builds a fresh
      * [[Decontaminate.of]] per run without closing the old one leaks one
      * cached copy per run for the life of the SparkContext. */
    def close(): Unit = { benchWindows.unpersist(); () }
  }
  object Decontaminate {
    def of(bench: DataFrame, window: Int = 8): Decontaminate =
      Decontaminate(
        graft.ops.DedupOps.benchmarkWindows(bench, window).persist(), window)
  }

  /** NEAR-DUP benchmark gate (the paraphrase half beside [[Decontaminate]]'s
    * exact spans): a batch doc whose SimHash lands within Hamming `maxDist`
    * of ANY benchmark doc's DROPS whole — a reworded eval example cannot be
    * span-scrubbed (its tokens differ) but must not ship. Same
    * precompute-once contract: the benchmark's banded sketch builds and
    * caches per stream. */
  final case class NearDecontaminate(benchBands: DataFrame, maxDist: Int) {
    /** Release the cached benchmark band index (same ownership rule as
      * [[Decontaminate.close]]). */
    def close(): Unit = { benchBands.unpersist(); () }
  }
  object NearDecontaminate {
    def of(bench: DataFrame, maxDist: Int = 3): NearDecontaminate =
      NearDecontaminate(
        graft.ops.DedupOps.benchmarkBands(bench).persist(), maxDist)
  }

  def processBatch(index: TransactionalTable, corpus: TransactionalTable,
      docs: DataFrame, batchId: Long, clean: Column,
      compactEvery: Int = 0, publish: Option[Publish] = None,
      /** Span-level benchmark DECONTAMINATION at ingest (E215 in the
        * streaming posture): every micro-batch loses exactly its leaked
        * benchmark spans BEFORE the funnel judges it (quality rules must
        * see the text that will ship). CONTAMINATED docs only are
        * rewritten — a clean document keeps its byte-exact input text
        * (the token-rejoin kernel would otherwise collapse its newline/
        * whitespace structure corpus-wide). Per-batch cost: one wkey
        * exchange of batch ∪ (precomputed, cached) benchmark windows —
        * the benchmark is fixed by contract (the SAME set on every
        * delivery, or replays would diverge). */
      decontaminate: Option[Decontaminate] = None,
      /** Near-dup benchmark gate (r17, beside the span scrub): batch docs
        * whose SimHash is within the gate's Hamming ball of ANY benchmark
        * doc drop WHOLE before the funnel — the paraphrased-eval-leak case
        * span removal cannot touch. Deterministic per input, so replays
        * recompute the identical drop set. */
      nearDecontaminate: Option[NearDecontaminate] = None,
      /** Quality-drift monitor (E221): record the RAW batch's token-length
        * histogram (≤ 11 rows, replay-fenced) BEFORE any gate touches it —
        * drift must observe the incoming distribution, not the cleaned
        * survivor set, or the funnel would mask exactly the shift it is
        * there to surface. Score at cadence with
        * [[graft.ops.QualityMonitor.drift]]. */
      monitor: Option[graft.table.TransactionalTable] = None): DataFrame =
    graft.util.BatchStats.timed("corpus_stream_batch") {
      val spark = docs.sparkSession
      import spark.implicits._
      monitor.foreach(t => graft.ops.QualityMonitor.appendBatch(t, docs, batchId))
      val decon = decontaminate.fold(docs) { dc =>
        val spans = graft.ops.DedupOps.contaminatedSpansPre(
          docs, dc.benchWindows, dc.window)
        val scrubbed = graft.ops.DedupOps.removeSpansOf(docs, spans)
          .where(col("n_removed") > 0)
          .select(col("doc_id"), col("clean_text"))
        // non-text columns (source, lang, ...) and CLEAN docs' exact
        // input text ride through unchanged
        docs.join(scrubbed, Seq("doc_id"), "left")
          .withColumn("text", coalesce(col("clean_text"), col("text")))
          .drop("clean_text")
      }
      // the near-dup gate consumes `decon` TWICE (once to sketch the batch
      // against the benchmark bands, once as the anti-join left side) — pin
      // it (ADVICE r17: without this the span-scrub wkey exchange above is
      // repaid per branch). Bounded by batch size; released in the finally.
      val deconPinned = nearDecontaminate.nonEmpty
      val deconC = if (deconPinned) decon.persist() else decon
      val gated = nearDecontaminate.fold(deconC) { nd =>
        deconC.join(
          graft.ops.DedupOps.nearContaminatedPre(deconC, nd.benchBands,
            nd.maxDist).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      }
      // materialize at the BATCH-SIZED waist (the r16 keep-best fix applied
      // here, r16 verdict plan-audit note): `cleaned` feeds BOTH the index
      // append (band computation) and the corpus merge input — without the
      // cache, the decontamination wkey exchange + near-dup sketch join are
      // repaid per downstream pass. Bounded by batch size; released before
      // the batch returns.
      val decontaminated = decontaminate.nonEmpty || nearDecontaminate.nonEmpty
      val cleaned0 = gated.filter(clean)
      val cleaned = if (decontaminated) cleaned0.persist() else cleaned0
      try {
        val kept = DedupIndex.appendBatch(index, cleaned, batchId,
          compactEvery = compactEvery)
        // materialized once (r19): the corpus merge consumes the kept-rows
        // join twice (key-pruning collect + write); batch-sized
        val rows = graft.util.JobLabel.labeled(spark, "corpus-stream:kept-rows") {
          cleaned.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .localCheckpoint(true)
        }
        corpus.merge(rows, spark.emptyDataset[Long].toDF("doc_id"), batchId)
        // continuous publication (E188): every k-th batch ships the corpus
        // interval the export manifest has not seen — fence-driven, so a
        // replayed batch no-ops and a crash-skipped publication absorbs into
        // the next one
        publish.foreach { p =>
          if (p.every <= 1 || batchId % p.every == 0)
            graft.ops.ExportOps.exportLatest(corpus, p.exportRoot,
              p.nShards, p.capacity)
          if (p.packEvery > 0 && batchId > 0 && batchId % p.packEvery == 0)
            graft.ops.ExportOps.pack(spark, p.exportRoot)
        }
        kept
      } finally {
        if (decontaminated) { cleaned.unpersist(); () }
        if (deconPinned) { deconC.unpersist(); () }
      }
    }

  /**
   * KEEP-BEST micro-batch (E204 — the eviction-consuming twin of
   * [[processBatch]]): the [[graft.ops.KeepBestIndex]] decides the batch's
   * kept docs AND the indexed rivals they replace, and ONE fenced corpus
   * merge upserts the kept rows while DELETING the evicted docs — the
   * corpus always holds exactly the index's live representatives. Replay
   * safety end to end: the index commit fences + reads BOTH sets back from
   * committed rows, so a re-delivered epoch re-issues the identical merge
   * (same upserts, same deletes) against the corpus fence, which no-ops —
   * the retraction can never be lost OR double-applied across a crash
   * between the two table commits. Per-batch cost stays
   * O(batch bands ⋈ index) + one merge — never a function of corpus size.
   */
  def processBatchKeepBest(index: TransactionalTable, corpus: TransactionalTable,
      docs: DataFrame, batchId: Long, clean: Column,
      compactEvery: Int = 0,
      /** Same raw-batch drift recording as [[processBatch]] (review r17:
        * the keep-best ingest posture must be able to observe a crawler
        * collapse too). */
      monitor: Option[TransactionalTable] = None,
      /** ANN index over the corpus docs' embeddings (r17 review #4): a
        * keep-best EVICTION removes the doc from the corpus — its vector
        * must leave the index in the same epoch or it keeps surfacing as
        * a ghost neighbor in every probe. Requires the shared-id contract
        * (vec_id == doc_id, the per-doc-embedding corpus shape); the
        * delete rides its own fence domain, so a replayed epoch no-ops
        * here exactly as it does on the corpus merge. `vectorCodes` rides
        * along when the index carries a PQ codes table. */
      vectorIndex: Option[graft.ops.AnnIndex.Handle] = None,
      vectorCodes: Option[TransactionalTable] = None): graft.ops.KeepBestIndex.BatchResult =
    graft.util.BatchStats.timed("keepbest_stream_batch") {
      monitor.foreach(t => graft.ops.QualityMonitor.appendBatch(t, docs, batchId))
      val cleaned = docs.filter(clean)
      val r = graft.ops.KeepBestIndex.appendBatch(index, cleaned, batchId,
        compactEvery = compactEvery)
      // materialized once (r19): the corpus merge consumes the kept-rows
      // join twice (key-pruning collect + write); batch-sized
      val rows = graft.util.JobLabel.labeled(docs.sparkSession,
          "keepbest-stream:kept-rows") {
        cleaned.join(r.kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
      }
      corpus.merge(rows, r.evicted.select(col("doc_id")), batchId)
      // only commit a delete epoch when the batch actually evicted — the
      // common no-eviction batch must not bump the vector index's version
      // (the eviction set is deterministic per batch, so a replay makes
      // the same skip/apply decision and the fence stays consistent)
      vectorIndex.foreach { h =>
        if (!r.evicted.isEmpty)
          graft.ops.AnnIndex.deleteBatch(h, r.evicted.select(col("doc_id")),
            batchId, codes = vectorCodes, idCol = "doc_id")
      }
      r
    }

  /**
   * TAKEDOWN (r19 — the delete path the banded index family gained):
   * remove documents from the corpus AND every index derived from their
   * content in ONE fenced epoch — the right-to-be-forgotten / retroactive-
   * decontamination operation. Without the index legs, the corpus row
   * disappears but its band rows keep silently suppressing every future
   * legitimate near-match of the removed content, and its vector keeps
   * surfacing as a ghost neighbor.
   *
   * Each leg fences on `batchId` in its OWN writer domain (corpus:
   * `corpus-takedown`; bands: [[DedupIndex.DeleteWriter]]; vectors:
   * [[graft.ops.AnnIndex.DeleteWriter]]), independent of the ingest
   * stream's epoch sequence — a crash between any two legs heals on
   * retry (the committed legs no-op, the rest apply), and a re-delivered
   * takedown epoch no-ops end to end. The ids are materialized first so
   * every leg deletes the SAME set even when `ids` derives from the
   * corpus being mutated. A taken-down id re-ingested by a later epoch
   * reappears everywhere (deletes are row removals, not id tombstones).
   *
   * `keepBest = true` routes the band leg through
   * [[graft.ops.KeepBestIndex.deleteBatch]] (same sig rule; documented
   * eviction-log contract there) for corpora built by
   * [[processBatchKeepBest]].
   */
  def takedown(index: TransactionalTable, corpus: TransactionalTable,
      ids: DataFrame, batchId: Long,
      keepBest: Boolean = false,
      vectorIndex: Option[graft.ops.AnnIndex.Handle] = None,
      vectorCodes: Option[TransactionalTable] = None,
      idCol: String = "doc_id"): Unit =
    graft.util.BatchStats.timed("corpus_takedown") {
      val spark = ids.sparkSession
      val keys = ids.select(col(idCol).cast("long").as("doc_id"))
        .localCheckpoint(true)
      val emptyUpserts = graft.util.Frames.empty(spark, corpus.schema)
      corpus.merge(emptyUpserts, keys, batchId,
        writerId = Some("corpus-takedown"))
      if (keepBest) graft.ops.KeepBestIndex.deleteBatch(index, keys, batchId)
      else DedupIndex.deleteBatch(index, keys, batchId)
      vectorIndex.foreach(h => graft.ops.AnnIndex.deleteBatch(h, keys,
        batchId, codes = vectorCodes, idCol = "doc_id"))
    }

  /** The checkpointed keep-best stream: [[processBatchKeepBest]] per
    * micro-batch over JSON-lines documents in `inputDir` — same restart /
    * replay contract as [[run]]. */
  def runKeepBest(spark: SparkSession, inputDir: String, checkpointDir: String,
      index: TransactionalTable, corpus: TransactionalTable, clean: Column,
      schemaDdl: String = "doc_id LONG, text STRING, lang STRING, source STRING",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      monitor: Option[TransactionalTable] = None): StreamingQuery =
    spark.readStream
      .schema(schemaDdl)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        processBatchKeepBest(index, corpus, df, bid, clean, compactEvery,
          monitor); ()
      }
      .trigger(trigger)
      .start()

  /**
   * The checkpointed stream: JSON-lines documents landing in `inputDir` →
   * [[processBatch]] per micro-batch. Restarting with the same checkpoint
   * resumes at the first unprocessed file; a re-delivered epoch is fenced
   * to a no-op on both tables.
   */
  def run(spark: SparkSession, inputDir: String, checkpointDir: String,
      index: TransactionalTable, corpus: TransactionalTable, clean: Column,
      schemaDdl: String = "doc_id LONG, text STRING, lang STRING, source STRING",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      publish: Option[Publish] = None,
      decontaminate: Option[DataFrame] = None,
      decontaminateWindow: Int = 8,
      nearDecontaminate: Option[DataFrame] = None,
      nearDecontaminateMaxDist: Int = 3,
      monitor: Option[graft.table.TransactionalTable] = None): StreamingQuery = {
    // build (and cache) the benchmark window/band indexes ONCE per stream
    val dc = decontaminate.map(b => Decontaminate.of(b, decontaminateWindow))
    val nd = nearDecontaminate.map(b =>
      NearDecontaminate.of(b, nearDecontaminateMaxDist))
    val q = spark.readStream
      .schema(schemaDdl)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        processBatch(index, corpus, df, bid, clean, compactEvery, publish,
          dc, nd, monitor); ()
      }
      .trigger(trigger)
      .start()
    // release the cached benchmark indexes when THIS stream ends — restart
    // loops (the E215 test's pattern) otherwise accrue one cached copy per
    // run for the life of the SparkContext
    if (dc.nonEmpty || nd.nonEmpty) {
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            dc.foreach(_.close()); nd.foreach(_.close())
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      // the listener registers AFTER start(): a stream that drains and
      // terminates in the gap (AvailableNow over a tiny input) posted its
      // terminated event to nobody — sweep that window here; unpersist is
      // idempotent, so racing the listener's own close() is harmless
      if (!q.isActive) {
        dc.foreach(_.close()); nd.foreach(_.close())
        spark.streams.removeListener(listener)
      }
    }
    q
  }
}
