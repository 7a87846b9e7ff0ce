package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.table.{ManifestFiles, PartitionTransform, TransactionalTable}
import graft.util.Frames

/**
 * Persistent ANN index — the similarity twin of [[DedupIndex]], the
 * production posture at 100 TB: the coarse quantizer is NOT retrained per
 * query ([[SimilarityOps.ivfTopK]]'s per-call Lloyd loop); instead the IVF
 * state lives in two transactional engine tables under one root:
 *
 *  - `<root>/centroids` — the coarse quantizer, trained ONCE at [[create]]
 *    from the seed batch with the same deterministic md5-stride seeding rule
 *    as `ivfTopK(iters = 0)` (md5 is public arithmetic, so an external
 *    oracle replays centroid choice → assignment → probe → result
 *    bit-for-bit). k·dim doubles — driver-bounded by construction.
 *  - `<root>/assignments` — one row per indexed vector (unit-normalized),
 *    PARTITIONED BY identity(cell): a probe reads nprobe/cells of the index
 *    via manifest-level partition pruning, never the corpus.
 *
 * Ingest is incremental and exactly-once: [[appendBatch]] assigns the batch
 * against the FROZEN centroids (broadcast literal, map-only) and lands it as
 * ONE replay-fenced merge — a crashed/redelivered batch is a no-op. Like the
 * dedup index, unbounded ingest without maintenance would fan the per-probe
 * scan over ever more small files; `compactEvery = k` bin-packs the
 * assignment table every k-th batch, keeping file count bounded by the
 * cadence and probe cost flat in batch count.
 */
object AnnIndex {

  val AssignSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("v", ArrayType(DoubleType))))

  val CentroidSchema: StructType = StructType(Seq(
    StructField("cell", LongType), StructField("cv", ArrayType(DoubleType))))

  /** The two engine tables behind one index root. */
  final case class Handle(assignments: TransactionalTable,
      centroids: TransactionalTable) {
    /** The frozen quantizer as driver-side literals (cells × dim, bounded).
      * Memoized per committed manifest — centroids change only on
      * create/retrain, yet every assignment/probe/encode leg called this,
      * paying one collect JOB per micro-batch for an immutable few-KB read
      * (r19 JobBreak: 4 jobs per appendBatch, 1 was this). The key is the
      * root, the version AND the manifest's chunk paths (random per write):
      * an index dropped and re-created at the same root returns to the same
      * version number with different centroids. One manifest read, no
      * chunk load. */
    def centroidVectors: Seq[Seq[Double]] = {
      val snap = centroids.snapshot
      val written = snap.files match {
        case mf: ManifestFiles => mf.chunks.map(_.path)
        case fs => fs.map(_.path)
      }
      val key = (centroids.root, snap.version, written)
      val hit = centroidCache.get(key)
      if (hit != null) hit
      else {
        val rows = centroids.scan().orderBy("cell").collect()
        val v = rows.map(_.getSeq[Double](1).toSeq).toSeq
        if (centroidCache.size > 64) centroidCache.clear()
        centroidCache.put(key, v)
        v
      }
    }
  }

  /** See [[Handle.centroidVectors]] — keyed by one manifest write, so every
    * entry is immutable; bounded by periodic clear. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Seq[String]), Seq[Seq[Double]]]()

  private def unit(vecCol: String): Column = {
    val v = SimilarityOps.asDouble(col(vecCol))
    transform(v, x => x / sqrt(SimilarityOps.dot(v, v)))
  }

  private def simsTo(v: Column, cent: Seq[Seq[Double]]): Column =
    array(cent.map(ct => SimilarityOps.dot(v, typedlit(ct))): _*)

  /** argmax cell = first position of the max similarity (deterministic ties),
    * identical to the `ivfTopK` assignment rule. The sims array materializes
    * ONCE inside a lambda binding — embedding `simsTo` in both
    * `array_position` and `array_max` would evaluate the k×dim dot products
    * twice per ingested vector. */
  private def cellOf(v: Column, cent: Seq[Seq[Double]]): Column =
    // transform over a 1-element array = a let-binding in pure Column algebra
    element_at(transform(array(simsTo(v, cent)),
      s => (array_position(s, array_max(s)) - 1).cast("long")), 1)

  /**
   * Create the index tables and train the quantizer from `seedVecs` (the
   * first ingest batch): centroids are the up-to-`cells` lowest-id seed
   * vectors surviving the md5-stride filter (hash(vec_id) % (n/cells) = 0),
   * falling back to the `cells` lowest ids when the stride whiffs — exactly
   * [[SimilarityOps.seedCandidates]], so DuckDB replays the choice. The
   * seed batch itself is NOT indexed here; call [[appendBatch]] for it.
   */
  def create(spark: SparkSession, root: String, seedVecs: DataFrame, cells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Handle = {
    require(cells > 0, "cells must be positive")
    val e = seedVecs.select(col(idCol).cast("long").as("vec_id"), unit(vecCol).as("v"))
    val n = e.count()
    val stride = math.max(1L, n / cells)
    var seeds = e.filter(pmod(TextOps.md5Hash60(col("vec_id")), lit(stride)) === 0)
      .orderBy("vec_id").limit(cells).select("vec_id", "v").collect()
    if (seeds.isEmpty)
      seeds = e.orderBy("vec_id").limit(cells).select("vec_id", "v").collect()
    val cent = TransactionalTable.create(spark, s"$root/centroids",
      CentroidSchema, pk = "cell", partitionCol = None)
    import spark.implicits._
    cent.append(seeds.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getSeq[Double](1))
    }.toSeq.toDF("cell", "cv"))
    val asg = TransactionalTable.create(spark, s"$root/assignments",
      AssignSchema, pk = "vec_id", partitionCol = Some("cell"))
    // One file per CELL per batch (not tasks × cells): the probe's partition
    // pruning then opens nprobe files per un-compacted batch, and the
    // compaction cadence has cells× less small-file debt to pay.
    asg.setWriteDistribution("hash")
    // the REQUESTED quantizer width — the drift trigger retrains to this,
    // never to whatever the seed rule happened to yield
    cent.setCustomMeta("ann.cells", cells.toString)
    Handle(asg, cent)
  }

  def open(spark: SparkSession, root: String): Handle =
    Handle(TransactionalTable.open(spark, s"$root/assignments"),
      TransactionalTable.open(spark, s"$root/centroids"))

  /**
   * Index a batch: assign each vector to its nearest frozen centroid
   * (broadcast literal, map-only — no shuffle before the partitioned write)
   * and land the assignments as ONE replay-fenced merge under `batchId`.
   * Upserted vec_ids supersede their old assignment (re-ingest moves the
   * vector, CoW). `compactEvery > 0` bin-packs the assignment table every
   * k-th batch — same cadence contract as [[DedupIndex.appendBatch]].
   */
  def appendBatch(h: Handle, vecs: DataFrame, batchId: Long,
      compactEvery: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      /** > 0 turns on the DRIFT TRIGGER: after the batch lands, if the
        * hottest cell holds more than this fraction of the index (corpus
        * drifted away from the frozen quantizer's seed distribution —
        * probe pruning degenerating toward one giant cell), [[retrain]]
        * fires automatically with the current cell count. The occupancy
        * check is one group-by over the assignment table; the retrain
        * fences on the batch id, so a replayed batch replays to a no-op. */
      retrainWhenSkew: Double = 0.0,
      /** COOLDOWN for the drift trigger (ADVICE r15): after a retrain at
        * fence f, batches with `batchId < f + retrainCooldown` skip the
        * occupancy check entirely. On INHERENTLY skewed data — where no
        * retrain can push the hot-cell fraction under the threshold — the
        * trigger would otherwise fire a full O(index) retrain+reassign on
        * EVERY batch, breaking the "per-batch cost is never a function of
        * index size" contract; the cooldown amortizes that worst case to
        * 1/N batches while a genuine drift episode still heals within N
        * batches of crossing the threshold. */
      retrainCooldown: Int = 4): Unit =
    graft.util.BatchStats.timed("ann_index_batch") {
      val spark = vecs.sparkSession
      // materialized once (r19): the merge consumes the frame twice (key-
      // pruning collect + partitioned write) and each pass re-ran the
      // k×dim assignment dot products over the whole batch
      val rows = graft.util.JobLabel.labeled(spark, "ann-index:assign") {
        assignRows(h, vecs, idCol, vecCol).localCheckpoint(true)
      }
      import spark.implicits._
      h.assignments.merge(rows, spark.emptyDataset[Long].toDF("vec_id"), batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        h.assignments.compact()
      if (retrainWhenSkew > 0 &&
          batchId >= lastRetrainFence(h).fold(Long.MinValue)(
            _ + math.max(1, retrainCooldown))) {
        val s = status(h)
        // retrain back to the REQUESTED width (create-time record), not the
        // live centroid count — a previously collapsed/shrunk quantizer
        // must be able to grow back. Skew needs enough vectors that the hot
        // fraction is signal, not small-sample noise: ≥ 2 rows per cell.
        val want = h.centroids.customMeta("ann.cells")
          .map(_.toInt).getOrElse(s.nCells.toInt)
        if (s.nVectors >= 2L * want && s.maxCellFraction > retrainWhenSkew)
          retrain(h, cells = want, fenceId = batchId)
      }
    }

  /** Writer-fence domain for delete maintenance: independent of both the
    * ingest stream's epoch sequence and the retrain maintenance fence, so
    * a corpus posture that REMOVES vectors (keep-best evictions, SQL
    * DELETE, decontamination drops) replay-protects its own delete epochs
    * without fencing out either neighbor. */
  val DeleteWriter = "ann-delete"

  /**
   * DELETE maintenance (r17 review #4 — the one index family that could
   * not forget): remove `ids` from the assignment table — and, when the
   * index carries a PQ codes table, from the codes in the same epoch — in
   * fenced merges, so a corpus removal (a keep-best eviction, a SQL
   * row-level DELETE, a benchmark-decontamination drop) stops surfacing
   * as a ghost neighbor in every subsequent probe. Without this, deleted
   * vectors kept ranking until a full rebuild.
   *
   * Replay/crash contract: both merges fence on `batchId` in the
   * [[DeleteWriter]] domain — a re-delivered delete epoch no-ops on
   * whichever tables already committed, so a crash between the two merges
   * heals on retry and the pair is exactly-once end to end. A deleted id
   * re-ingested by a LATER [[appendBatch]] epoch simply reappears (the
   * delete is a row removal, not a tombstone on the id). Cost is one
   * keyed anti-merge per table — O(batch ⋈ touched files), never a
   * function of index size; cell occupancy ([[status]], the drift
   * trigger) reads the live rows, so the stats follow automatically.
   */
  def deleteBatch(h: Handle, ids: DataFrame, batchId: Long,
      codes: Option[TransactionalTable] = None,
      idCol: String = "vec_id"): Unit =
    graft.util.BatchStats.timed("ann_delete_batch") {
      val spark = h.assignments.spark
      val keys = ids.select(col(idCol).cast("long").as("vec_id"))
      h.assignments.merge(Frames.empty(spark, h.assignments.schema), keys, batchId,
        writerId = Some(DeleteWriter))
      // the codes row of a deleted vector would keep ADC-ranking it from
      // the compressed domain — same keys, same fenced epoch
      codes.foreach(t => t.merge(Frames.empty(spark, t.schema), keys, batchId,
        writerId = Some(DeleteWriter)))
    }

  /** A batch's (vec_id, cell, v) rows under the FROZEN centroids — the
    * ingest assignment rule, shared by [[appendBatch]] and the streaming
    * PQ-codes maintenance ([[PqOps.appendCodes]]) so the two can never
    * assign a vector differently. Map-only (broadcast literal centroids). */
  private[ops] def assignRows(h: Handle, vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cent = h.centroidVectors
    vecs.select(col(idCol).cast("long").as("vec_id"), unit(vecCol).as("v"))
      .withColumn("cell", cellOf(col("v"), cent))
      .select("vec_id", "cell", "v")
  }

  /** The fence of the last persisted retrain, parsed from the
    * `ann.retrain.stats` record [[retrain]] writes (None before any
    * retrain) — the drift trigger's cooldown clock. */
  private[graft] def lastRetrainFence(h: Handle): Option[Long] =
    h.centroids.customMeta("ann.retrain.stats").flatMap { s =>
      """"fence":(-?\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    }

  /** Occupancy stats of the live index: the drift-observability surface
    * behind `CALL graft.system.ann_status` and the [[appendBatch]] skew
    * trigger. `lastRetrain` is the persisted per-retrain record (JSON:
    * fence + post-retrain occupancy), written by [[retrain]]. */
  final case class Status(nVectors: Long, nCells: Long,
      maxCellFraction: Double, lastRetrain: Option[String])

  def status(h: Handle): Status = {
    val agg = h.assignments.scan().groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("total"), max("n").as("mx")).collect()(0)
    val total = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val mx = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    Status(total, h.centroids.countRows,
      if (total == 0) 0.0 else mx.toDouble / total,
      h.centroids.customMeta("ann.retrain.stats"))
  }

  /**
   * MAINTENANCE under drift: cells grow unbalanced as the corpus drifts
   * away from the seed batch's distribution (a hot region crowds into one
   * cell and probe pruning degenerates). [[retrain]] re-trains the coarse
   * quantizer on the CURRENT index contents — the same deterministic
   * md5-stride seeding rule as [[create]] plus `iters` Lloyd refinement
   * rounds (the [[SimilarityOps.ivfTopK]] recipe; quality is certified by
   * recall bound, not bit-exact oracle, per the ivfRecall convention) —
   * then republishes the index in two single-table commits that keep
   * probes valid THROUGHOUT:
   *
   *  - [[reassignAll]] — every indexed vector upserts to its new cell in
   *    ONE fenced merge, REUSING THE SAME CELL-ID SPACE (0..K−1);
   *  - [[publishCentroids]] — the centroid table flips to the new vectors
   *    (and grown/shrunk cell count) in one fenced merge.
   *
   * COMMIT ORDER is chosen so the live centroid cell set always COVERS
   * every cell that holds rows: centroids first when the quantizer GROWS
   * (rows stay inside the old prefix of the enlarged set), rows first when
   * it SHRINKS (rows move into a prefix of the still-published set). A
   * probe landing anywhere in the window therefore sees every vector
   * reachable: an all-cell probe (nprobe ≥ cells) is EXACT at every point
   * — identical before, during, and after maintenance — and a small-nprobe
   * probe returns a valid approximate top-k of the full corpus (recall
   * dips toward the un-refreshed geometry; nothing is missing or wrong).
   *
   * Both commits ride an independent "maintenance" writer fence so a
   * crashed/re-run maintenance job is exactly-once and never fences out
   * the ingest stream's own epoch sequence.
   */
  def retrain(h: Handle, cells: Int, fenceId: Long, iters: Int = 2): Seq[Seq[Double]] = {
    val cent = trainFromIndex(h, cells, iters)
    val kOld = h.centroids.countRows
    if (cent.length > kOld) {
      publishCentroids(h, cent, fenceId)
      reassignAll(h, cent, fenceId)
    } else {
      reassignAll(h, cent, fenceId)
      publishCentroids(h, cent, fenceId)
    }
    // persist the per-retrain occupancy record (observability breadcrumb:
    // `ann_status` reports it; a re-fenced replay rewrites the same value)
    val s = status(h)
    h.centroids.setCustomMeta("ann.retrain.stats",
      s"""{"fence":$fenceId,"n_vectors":${s.nVectors},""" +
        s""""n_cells":${s.nCells},"max_cell_fraction":${s.maxCellFraction}}""")
    cent
  }

  /** Deterministic quantizer training over the current index contents:
    * md5-stride seeding (the [[create]] rule) + `iters` Lloyd rounds
    * (cells×dim driver collects, bounded by construction). */
  private[graft] def trainFromIndex(h: Handle, cells: Int, iters: Int): Seq[Seq[Double]] = {
    require(cells > 0, "cells must be positive")
    val rows = h.assignments.scan().select(col("vec_id"), col("v"))
    val n = rows.count()
    require(n > 0, "retrain needs a non-empty index")
    val stride = math.max(1L, n / cells)
    val strided = rows.filter(pmod(TextOps.md5Hash60(col("vec_id")), lit(stride)) === 0)
      .orderBy("vec_id").limit(cells).select("vec_id", "v").collect()
    // TOP UP a stride whiff (hash luck can select < cells ids) with the
    // lowest ids not already chosen: a retrain must never silently SHRINK
    // the quantizer below the requested width — a collapsed cell count
    // degenerates every later probe to a full scan and re-trips the drift
    // trigger forever. Deterministic (id order); quality is certified by
    // recall bound, not bit-exact oracle, per the trainFromIndex contract.
    val seeds =
      if (strided.length >= cells || n <= strided.length) strided.toSeq
      else {
        val chosen = strided.map(_.getLong(0)).toSet
        strided.toSeq ++ rows
          .filter(!col("vec_id").isin(chosen.toSeq: _*))
          .orderBy("vec_id").limit(cells - strided.length)
          .select("vec_id", "v").collect().toSeq
      }
    var cent = seeds.map(_.getSeq[Double](1).toSeq)
    (0 until iters).foreach { _ =>
      val means = rows.withColumn("cell", cellOf(col("v"), cent))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .collect().groupBy(_.getLong(0).toInt)
        .map { case (cell, rs) =>
          cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cent = cent.indices.map(i => means.getOrElse(i, cent(i)))
    }
    cent
  }

  /** Maintenance step 1: move every indexed vector to its cell under `cent`
    * in one fenced merge (same cell-id space — see [[retrain]] on why this
    * keeps mid-maintenance probes valid). */
  def reassignAll(h: Handle, cent: Seq[Seq[Double]], fenceId: Long): Unit = {
    val spark = h.assignments.spark
    import spark.implicits._
    val rows = h.assignments.scan()
      .withColumn("cell", cellOf(col("v"), cent))
      .select("vec_id", "cell", "v")
    h.assignments.merge(rows, spark.emptyDataset[Long].toDF("vec_id"), fenceId,
      writerId = Some(MaintenanceWriter))
  }

  /** Maintenance step 2: publish the new centroids — upsert cells 0..K−1,
    * delete any cells beyond K (a shrunk quantizer) — one fenced merge. */
  def publishCentroids(h: Handle, cent: Seq[Seq[Double]], fenceId: Long): Unit = {
    val spark = h.centroids.spark
    import spark.implicits._
    val dead = h.centroids.scan().select("cell").as[Long].collect()
      .filter(_ >= cent.length).toSeq // cells × 1 — bounded
    h.centroids.merge(
      cent.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }.toDF("cell", "cv"),
      dead.toDF("cell"), fenceId, writerId = Some(MaintenanceWriter))
  }

  /** Writer-fence domain for maintenance commits (independent of the ingest
    * stream's epoch sequence). */
  val MaintenanceWriter = "ann-maintenance"

  /**
   * Approximate per-query top-k against the INDEX: each query probes its
   * `nprobe` nearest cells and scores exactly only within them. The scan is
   * partition-pruned at the manifest — only the probed cells' files are
   * planned at all, nprobe/cells of the index regardless of corpus size.
   * Unit vectors throughout: dot = cosine, bit-identical to the oracle.
   *
   * FILTERED search (`allowed`): an id allowlist (column `vec_id` — any
   * metadata predicate evaluated on the source table) PRE-FILTERS the
   * in-cell candidates before ranking, so the result is the exact top-k of
   * the allowed set within the probed cells — vector stores call this
   * pre-filter semantics. The allowlist rides a semi-join (broadcast when
   * small, hash otherwise); under a highly selective filter raise `nprobe`
   * — probed cells may hold few allowed rows, the standard filtered-ANN
   * recall trade.
   */
  def probe(h: Handle, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val cent = h.centroidVectors
    val q = queries.select(col(idCol).cast("long").as("qid"), unit(vecCol).as("qv"))
    // nprobe nearest cells per query (same expression shape as ivfTopK)
    val probes = q.withColumn("_sims", simsTo(col("qv"), cent))
      .withColumn("_cell", explode(slice(
        transform(array_sort(zip_with(col("_sims"),
            typedlit(cent.indices.toList),
            (s, i) => struct((-s).as("negs"), i.as("i")))),
          p => p.getField("i")),
        1, nprobe)))
      .select(col("qid"), col("qv"), col("_cell").cast("long").as("cell"))
    // Manifest-level cell pruning: queries are small (they are broadcast),
    // so the union of probed cells is driver-known and exact.
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getLong(0).toString).toSet
    val cand0 = h.assignments.scanPartitions(p => p.exists(probedCells))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", SimilarityOps.dot(col("qv"), col("v")))
    val cand = allowed.fold(cand0)(a =>
      cand0.join(a.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rnk"))
  }

  /**
   * IVF-PQ probe (E186): the same nprobe-nearest-cell selection as
   * [[probe]], but candidates come from the CELL-PARTITIONED PQ codes
   * table ([[PqOps.buildPqCodes]]) and score via ADC in the compressed
   * domain — the probe reads nprobe cells' worth of m-int code rows, the
   * raw vectors never load. Returns (qid, neighbor_id, adc, rnk). ADC
   * ranks approximate cosine (the index stores unit vectors); exactness
   * of the ordering is the codebook resolution's business — the shape is
   * the canonical memory-bounded layout for 100 TB corpora.
   */
  def probePq(h: Handle, codes: TransactionalTable, books: PqOps.Codebooks,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    PqOps.requireCodesFresh(h, codes) // E206: stale codes mis-rank silently
    val cent = h.centroidVectors
    val q = queries.select(col(idCol).cast("long").as("qid"), unit(vecCol).as("qv"))
    val probes = q.withColumn("_sims", simsTo(col("qv"), cent))
      .withColumn("_cell", explode(slice(
        transform(array_sort(zip_with(col("_sims"),
            typedlit(cent.indices.toList),
            (s, i) => struct((-s).as("negs"), i.as("i")))),
          p => p.getField("i")),
        1, nprobe)))
      .select(col("qid"), col("qv"), col("_cell").cast("long").as("cell"))
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getLong(0).toString).toSet
    val cand = codes.scanPartitions(p => p.exists(probedCells))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adc", PqOps.adcScore(col("qv"), col("codes"), books))
    val w = Window.partitionBy("qid").orderBy(desc("adc"), col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("adc"), col("rnk"))
  }

  /**
   * RESIDUAL IVF-PQ probe (E191 — the FAISS IVF-ADC layout): candidates
   * store residual codes ([[PqOps.buildPqCodesResidual]]), and the score
   * decomposes exactly as dot(q, x) ≈ dot(q, cv_cell) + Σ_s dot(q_s,
   * books(s)(code_s)) — the centroid term computes ONCE per (query,
   * probed cell) and the residual term is the same m-lookup ADC; the sum
   * association is pinned (cdot + left-assoc subspace chain) so an
   * external oracle replays every score bit-for-bit.
   */
  def probePqResidual(h: Handle, codes: TransactionalTable,
      books: PqOps.Codebooks, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    PqOps.requireCodesFresh(h, codes) // E206: stale codes mis-rank silently
    val cent = h.centroidVectors
    val q = queries.select(col(idCol).cast("long").as("qid"), unit(vecCol).as("qv"))
    val probes = q.withColumn("_sims", simsTo(col("qv"), cent))
      .withColumn("_cell", explode(slice(
        transform(array_sort(zip_with(col("_sims"),
            typedlit(cent.indices.toList),
            (s, i) => struct((-s).as("negs"), i.as("i")))),
          p => p.getField("i")),
        1, nprobe)))
      .select(col("qid"), col("qv"), col("_cell").cast("long").as("cell"))
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.getLong(0).toString).toSet
    val cdot = SimilarityOps.dot(col("qv"),
      element_at(typedlit(cent), (col("cell") + 1).cast("int")))
    val cand = codes.scanPartitions(p => p.exists(probedCells))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adc", cdot + PqOps.adcScore(col("qv"), col("codes"), books))
    val w = Window.partitionBy("qid").orderBy(desc("adc"), col("vec_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("adc"), col("rnk"))
  }

  /**
   * Two-stage IVF-PQ probe with EXACT RE-RANK (E189 — the production
   * refine pattern): stage 1 is [[probePq]] with a WIDER shortlist
   * (`kShort` ≥ k, ADC over the probed cells' code rows only); stage 2
   * re-scores JUST the shortlist rows exactly — the raw vectors load for
   * kShort × queries rows, never for the corpus — and the final top-k
   * ranks by the exact dot. Both stages are deterministic (ADC ties →
   * lowest id; exact ties → lowest id), so an external oracle replays the
   * shortlist rule and the re-rank bit-for-bit. Compressed-domain scan +
   * exact quality on a bounded candidate set: the memory/recall trade
   * IVF-PQ deployments actually run.
   */
  def probePqRefined(h: Handle, codes: TransactionalTable,
      books: PqOps.Codebooks, queries: DataFrame, k: Int, kShort: Int,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kShort >= k, "the shortlist must be at least k wide")
    val shortlist = probePq(h, codes, books, queries, kShort, nprobe,
      idCol, vecCol).select(col("qid"), col("neighbor_id"))
      .localCheckpoint(true) // one ADC pass feeds file pruning + the join
    val q = queries.select(col(idCol).cast("long").as("qid"), unit(vecCol).as("qv"))
    // exact rescoring of the shortlist only, through the E63 runtime-filter
    // posture instead of an inlined `isin` literal (r15 hardening note: a
    // 10⁴-query × 10²-kShort OFFLINE batch would inline ~10⁶ literals into
    // the plan): scanForKeys prunes the assignment files by PK range ∧
    // bloom against the shortlist's id set — raw vectors load for the
    // shortlist's files only, never the corpus — with plan size and driver
    // memory bounded past the key-collect cap (range-only pruning), and the
    // exact row membership enforced by the equi-join on neighbor_id.
    val slice = h.assignments
      .scanForKeys(shortlist.select(col("neighbor_id")).distinct())
      .select(col("vec_id").as("neighbor_id"), col("v"))
    val exact = shortlist
      .join(slice, Seq("neighbor_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cos", SimilarityOps.dot(col("qv"), col("v")))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("neighbor_id"), col("rnk"))
  }

  /**
   * FILTERED probe with a DEFICIENCY GUARANTEE (the recall-hardening knob
   * for selective filters): run the banded [[probe]] first; any query whose
   * probed cells hold FEWER than `k` allowed candidates re-scores against
   * the FULL allowed set exactly (the widen-to-everything fallback — sound
   * and simple: a filter selective enough to starve the probed cells has
   * already shrunk the exact scan to its own selectivity). Dense queries
   * keep the cheap banded answer untouched; deficient ones pay one
   * filtered scan and get the exact filtered top-k. Fully deterministic —
   * the deficiency rule (in-cell allowed count < k) is replayable by an
   * external oracle.
   */
  def probeFiltered(h: Handle, queries: DataFrame, k: Int, nprobe: Int,
      allowed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val first = probe(h, queries, k, nprobe, idCol, vecCol,
      allowed = Some(allowed))
    val q = queries.select(col(idCol).cast("long").as("qid"), unit(vecCol).as("qv"))
    val counts = first.groupBy("qid").agg(count(lit(1)).as("_m"))
    val deficient = q.join(counts, Seq("qid"), "left")
      .filter(coalesce(col("_m"), lit(0L)) < k)
      .select("qid", "qv")
    // exact filtered scan for the deficient queries only: allowed rows of
    // the whole index × the (small, broadcast) deficient query set
    val allowedRows = h.assignments.scan()
      .join(allowed.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi")
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("vec_id"))
    // deliberate broadcast nested loop: allowed rows × the bounded
    // deficient-query set — the exact-scan fallback IS a brute-force
    // cosine pass (same shape as x3_cosine_topk's baseline)
    val second = allowedRows.crossJoin(broadcast(deficient))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", SimilarityOps.dot(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rnk"))
    first.join(deficient.select("qid"), Seq("qid"), "left_anti")
      .unionByName(second)
  }
}
