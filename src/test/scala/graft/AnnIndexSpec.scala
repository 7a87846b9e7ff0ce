package graft

import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, SimilarityOps}
import graft.table.TransactionalTable

/** Persistent ANN index lifecycle ([[graft.ops.AnnIndex]] — the similarity
  * twin of DedupIndex): frozen md5-seeded centroids, incremental
  * replay-fenced assignment batches, partition-pruned probes, compaction
  * cadence bounding index files, recall surviving incremental growth. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  /** Deterministic little corpus: unit-ish vectors in `dim` dims whose
    * direction clusters by id % 4 with a small id-dependent wobble. */
  private def corpus(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map { i =>
      val base = Array.fill(dim)(0.05)
      base(i % 4) = 1.0
      base((i / 4) % dim) += 0.02 * (i % 7)
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")

  test("probeFiltered: starved queries widen to the exact filtered ranking; saturated allowlists pass through") {
    val root = tmpDir("ann-index-ad")
    val all = corpus(0 until 120)
    val h = AnnIndex.create(spark, root, all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val queries = all.filter(col("vec_id") < 6)
    // (a) allowlist SMALLER than k: every query is deficient by
    // construction (its probed cell cannot hold k allowed rows), widens,
    // and returns the COMPLETE exact filtered ranking — the guarantee the
    // adaptive path exists for. Deterministic whatever the seed geometry.
    val tiny = all.filter(col("vec_id").isin(9L, 18L, 27L, 36L)).select("vec_id")
    val got = AnnIndex.probeFiltered(h, queries, k = 5, nprobe = 1, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = SimilarityOps.cosineTopK(
      all.join(tiny, Seq("vec_id"), "left_semi"), queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet === exact.toSet,
      "starved queries must return the exact filtered ranking")
    assert(got.groupBy(_._1).forall(_._2.length === 4),
      "all 4 allowed ids ranked for every query")
    // (b) allowlist = everything: no query is deficient, the result IS the
    // banded first pass untouched (no widening, no extra scan semantics)
    val everything = all.select("vec_id")
    val viaAdaptive = AnnIndex.probeFiltered(h, queries, k = 3, nprobe = 2,
      everything).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val firstPass = AnnIndex.probe(h, queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAdaptive === firstPass,
      "a saturated allowlist must keep every banded answer untouched")
  }

  test("deleteBatch (r17 review #4): removed vectors stop surfacing in raw and compressed probes; crash heal; fenced replay; re-ingest resurrects") {
    import graft.ops.PqOps
    val root = tmpDir("ann-index-del")
    val all = corpus(0 until 90)
    val h = AnnIndex.create(spark, root, all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val v0 = SimilarityOps.asDouble(col("embedding"))
    val unitAll = all.select(col("vec_id"),
      transform(v0, x => x / sqrt(SimilarityOps.dot(v0, v0))).as("embedding"))
    val books = PqOps.codebooks(unitAll, m = 4, k = 8)
    val codes = PqOps.buildPqCodes(h, tmpDir("ann-index-delc") + "/codes", books)
    val queries = all.filter(col("vec_id") < 5)
    val dead = all.filter(col("vec_id") >= 60).select("vec_id")
    // crash window: the assignments delete commits, the codes delete does
    // not (a caller that died between the two merges) ...
    AnnIndex.deleteBatch(h, dead, batchId = 1)
    assert(h.assignments.countRows === 60L)
    assert(codes.countRows === 90L, "codes untouched by the crashed half")
    // ... and the re-run heals: assignments no-op on the fence, codes catch up
    val av = h.assignments.currentVersion
    AnnIndex.deleteBatch(h, dead, batchId = 1, codes = Some(codes))
    assert(h.assignments.currentVersion === av,
      "replayed assignment delete must no-op on the fence")
    assert(codes.countRows === 60L &&
      codes.scan().filter(col("vec_id") >= 60).count() === 0L)
    // no ghost neighbors: with every cell probed, the raw probe IS the
    // exact top-k of the survivors — same per-query neighbor SET as brute
    // force over them (rank order can swap on FP-tied cosines: the index
    // stores pre-normalized vectors, brute force normalizes on the fly)
    val got = AnnIndex.probe(h, queries, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = SimilarityOps.cosineTopK(all.filter(col("vec_id") < 60),
      queries, k = 10).collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got === exact, "post-delete probe must be ghost-free and exact")
    assert(got.values.flatten.forall(_ < 60L), "no ghost may rank")
    // the compressed domain forgot them too
    val pq = AnnIndex.probePq(h, codes, books, queries, k = 10, nprobe = 4)
    assert(pq.filter(col("neighbor_id") >= 60).count() === 0L,
      "deleted vectors must not ADC-rank from stale codes")
    // full replay of the whole delete epoch: both tables stay put
    val (av2, cv2) = (h.assignments.currentVersion, codes.currentVersion)
    AnnIndex.deleteBatch(h, dead, batchId = 1, codes = Some(codes))
    assert(h.assignments.currentVersion === av2 && codes.currentVersion === cv2)
    // a deleted id re-ingested by a later epoch reappears (row removal,
    // not an id tombstone)
    AnnIndex.appendBatch(h, all.filter(col("vec_id") === 70), batchId = 2)
    val wide = AnnIndex.probe(h, queries, k = 61, nprobe = 4)
    assert(wide.filter(col("neighbor_id") === 70).count() === queries.count(),
      "a re-ingested vector must rank again for every query")
    assert(wide.filter(col("neighbor_id") > 60).select("neighbor_id")
      .distinct().as[Long].collect().toSeq === Seq(70L),
      "only the re-ingested id returns; the rest stay deleted")
  }

  test("index probe equals the one-shot IVF pipeline on the same quantizer") {
    val root = tmpDir("ann-index-eq")
    val all = corpus(0 until 120)
    val h = AnnIndex.create(spark, root, all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val queries = all.filter(col("vec_id") < 5)
    val viaIndex = AnnIndex.probe(h, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val oneShot = SimilarityOps.ivfTopK(all, queries, k = 3, dim = dim,
      cells = 4, nprobe = 2, iters = 0).orderBy("qid", "rnk").collect().toSeq
    assert(viaIndex === oneShot,
      "persisted-index probe must reproduce the one-shot iters=0 IVF result")
  }

  test("incremental batches: exactly-once under replay; re-ingest moves a vector") {
    val root = tmpDir("ann-index-inc")
    val all = corpus(0 until 90)
    val h = AnnIndex.create(spark, root, all.filter(col("vec_id") % 3 === 0), cells = 4)
    (0 until 3).foreach { b =>
      AnnIndex.appendBatch(h, all.filter(col("vec_id") % 3 === b), batchId = b)
    }
    assert(h.assignments.countRows === 90L)
    val before = h.assignments.scan().select("vec_id", "cell")
      .as[(Long, Long)].collect().toMap
    // replayed batch: fenced to a no-op
    AnnIndex.appendBatch(h, all.filter(col("vec_id") % 3 === 1), batchId = 1)
    assert(h.assignments.countRows === 90L)
    assert(h.assignments.scan().select("vec_id", "cell")
      .as[(Long, Long)].collect().toMap === before)
    // incremental result == indexing everything in one batch
    val root2 = tmpDir("ann-index-one")
    val h2 = AnnIndex.create(spark, root2, all.filter(col("vec_id") % 3 === 0), cells = 4)
    AnnIndex.appendBatch(h2, all, batchId = 0)
    assert(h2.assignments.scan().select("vec_id", "cell")
      .as[(Long, Long)].collect().toMap === before)
  }

  test("probe plans only the probed cells' files (destroyed-file proof)") {
    val root = tmpDir("ann-index-prune")
    val all = corpus(0 until 120)
    val h = AnnIndex.create(spark, root, all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val queries = all.filter(col("vec_id") === 0)
    val expected = AnnIndex.probe(h, queries, k = 3, nprobe = 1)
      .orderBy("rnk").collect().toSeq
    // the probed cell for query 0 under nprobe=1
    val probedCell = h.assignments.scan()
      .filter(col("vec_id").isin(expected.map(_.getLong(1)): _*))
      .select("cell").distinct().as[Long].collect().toSet
    // destroy every file of every OTHER cell: a plan that touches them fails
    h.assignments.snapshot.files
      .filterNot(f => f.partition.exists(p => probedCell.contains(p.toLong)))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(AnnIndex.probe(h, queries, k = 3, nprobe = 1)
      .orderBy("rnk").collect().toSeq === expected,
      "partition-pruned probe must not plan unprobed cells' files")
  }

  test("IVF-PQ probe plans only the probed cells' CODE files (destroyed-file proof, E186)") {
    val root = tmpDir("ann-ivfpq-prune")
    val all = corpus(0 until 120)
    val h = AnnIndex.create(spark, root + "/idx", all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val books = graft.ops.PqOps.codebooks(
      h.assignments.scan().select(col("vec_id"), col("v").as("embedding")),
      m = 2, k = 4)
    val codes = graft.ops.PqOps.buildPqCodes(h, root + "/codes", books)
    val queries = all.filter(col("vec_id") === 0)
    val expected = AnnIndex.probePq(h, codes, books, queries, k = 3, nprobe = 1)
      .orderBy("rnk").collect().toSeq
    val probedCell = codes.scan()
      .filter(col("vec_id").isin(expected.map(_.getLong(1)): _*))
      .select("cell").distinct().as[Long].collect().toSet
    // destroy every OTHER cell's code files AND every raw assignment file:
    // the compressed-domain probe must touch neither
    codes.snapshot.files
      .filterNot(f => f.partition.exists(p => probedCell.contains(p.toLong)))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    h.assignments.snapshot.files
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(AnnIndex.probePq(h, codes, books, queries, k = 3, nprobe = 1)
      .orderBy("rnk").collect().toSeq === expected,
      "IVF-PQ probe must plan only probed cells' code rows — raw vectors never load")
  }

  test("refined probe loads raw vectors only for the shortlist's files (destroyed-file proof)") {
    val root = tmpDir("ann-ivfpq-refprune")
    // direction correlates with ID RANGE (ids 0-29 → axis 0, 30-59 → axis 1,
    // …): each cell's assignment file then spans a disjoint pk range, so the
    // exact-re-rank stage's PK pruning provably excludes the other cells'
    // raw-vector files — which this test destroys
    val all = (0 until 120).map { i =>
      val base = Array.fill(dim)(0.05)
      base(i / 30) = 1.0
      base(4 + (i % 3)) += 0.02 * (i % 5)
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val h = AnnIndex.create(spark, root + "/idx", all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val books = graft.ops.PqOps.codebooks(
      h.assignments.scan().select(col("vec_id"), col("v").as("embedding")),
      m = 2, k = 4)
    val codes = graft.ops.PqOps.buildPqCodes(h, root + "/codes", books)
    val queries = all.filter(col("vec_id") === 0)
    val expected = AnnIndex.probePqRefined(h, codes, books, queries,
      k = 3, kShort = 6, nprobe = 1).orderBy("rnk").collect().toSeq
    val shortIds = AnnIndex.probePq(h, codes, books, queries, k = 6, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    // destroy every raw-vector file whose pk range holds NO shortlist id,
    // and every unprobed cell's code file
    val probedCell = codes.scan().filter(col("vec_id").isin(shortIds.toSeq: _*))
      .select("cell").distinct().as[Long].collect().toSet
    codes.snapshot.files
      .filterNot(f => f.partition.exists(p => probedCell.contains(p.toLong)))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    h.assignments.snapshot.files
      .filterNot(f => shortIds.exists(id => id >= f.pkMin && id <= f.pkMax))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(AnnIndex.probePqRefined(h, codes, books, queries,
      k = 3, kShort = 6, nprobe = 1).orderBy("rnk").collect().toSeq === expected,
      "exact re-rank must plan only the shortlist's raw-vector files")
  }

  test("refined probe plan stays bounded at 10^4+ shortlist ids (no inlined literals)") {
    val root = tmpDir("ann-ivfpq-bigshort")
    val n = 12000
    val all = (0 until n).map { i =>
      val base = Array.fill(dim)(0.05)
      base(i % 4) = 1.0
      base(4 + (i % 3)) += 0.01 * (i % 7)
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val h = AnnIndex.create(spark, root + "/idx", all, cells = 4)
    AnnIndex.appendBatch(h, all, batchId = 0)
    val books = graft.ops.PqOps.codebooks(
      h.assignments.scan().select(col("vec_id"), col("v").as("embedding")),
      m = 2, k = 4)
    val codes = graft.ops.PqOps.buildPqCodes(h, root + "/codes", books)
    val queries = all.filter(col("vec_id") < 4)
    val df = AnnIndex.probePqRefined(h, codes, books, queries,
      k = 3, kShort = 2900, nprobe = 1)
    val rows = df.collect()
    assert(rows.length === 12, "top-3 per query expected")
    // the shortlist really was ≥ 10^4 distinct ids …
    val distinctIds = AnnIndex.probePq(h, codes, books, queries,
      k = 2900, nprobe = 1).select("neighbor_id").distinct().count()
    assert(distinctIds >= 10000L, s"premise: shortlist ids $distinctIds < 10^4")
    // … and the exact-stage plan carries a JOIN, not 10^4 inlined literals
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.length < 60000,
      s"plan size ${plan.length} suggests inlined shortlist literals")
    // exact re-rank correctness at this width: recompute independently
    val short = AnnIndex.probePq(h, codes, books, queries, k = 2900, nprobe = 1)
      .select("qid", "neighbor_id")
    val vecs = h.assignments.scan().select(col("vec_id").as("neighbor_id"), col("v"))
    val qv = h.assignments.scan().filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(desc("cos"), col("neighbor_id"))
    val want = short.join(vecs, Seq("neighbor_id")).join(qv, Seq("qid"))
      .withColumn("cos", SimilarityOps.dot(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select("qid", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === want)
  }

  test("compaction cadence bounds index files; probe unchanged after compaction") {
    val root = tmpDir("ann-index-compact")
    val all = corpus(0 until 200)
    val h = AnnIndex.create(spark, root, all.filter(col("vec_id") < 20), cells = 4)
    (0 until 10).foreach { b =>
      AnnIndex.appendBatch(h, all.filter(col("vec_id") % 10 === b), batchId = b,
        compactEvery = 4)
    }
    val files = h.assignments.snapshot.files.size
    // without compaction: >= 10 batches x >= 1 file each (cells per batch);
    // the cadence keeps it near one file per cell
    assert(files <= 12, s"compaction cadence failed to bound files: $files")
    val queries = all.filter(col("vec_id") < 5)
    val probed = AnnIndex.probe(h, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    h.assignments.compact(minFileRows = 1L << 20)
    assert(AnnIndex.probe(h, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rnk").collect().toSeq === probed)
  }

  test("drift maintenance: retrain rebalances, probes stay valid mid-window, recall certified") {
    val root = tmpDir("ann-index-drift")
    // seed region: axis-0 vectors, wobble confined to axes 1–3; drift
    // region: axis-5 vectors, wobble confined to axes 6–7. Disjoint wobble
    // axes make every drift vector's argmax over the SEED centroids
    // identical (the differences live on axes where drift vectors carry
    // only the constant base), so drift provably crowds ONE cell.
    def vec(axis: Int, wobbleBase: Int, i: Long): Seq[Float] = {
      val a = Array.fill(dim)(0.05)
      a(axis) = 1.0f.toDouble
      a(wobbleBase + (i % 2).toInt) += 0.01 * (i % 5)
      a.map(_.toFloat).toSeq
    }
    val seed = (0L until 20L).map(i => (i, vec(0, 1, i))).toDF("vec_id", "embedding")
    val h = AnnIndex.create(spark, root, seed, cells = 4)
    AnnIndex.appendBatch(h, seed, batchId = 0)
    // 10× growth, all of it in a region the frozen quantizer never saw
    val driftRows = (1 to 10).flatMap { b =>
      (0L until 20L).map(j => (1000L * b + j, vec(5, 6, 1000L * b + j)))
    }
    (1 to 10).foreach { b =>
      AnnIndex.appendBatch(h,
        driftRows.filter(_._1 / 1000L == b).toDF("vec_id", "embedding"), batchId = b)
    }
    val all = ((0L until 20L).map(i => (i, vec(0, 1, i))) ++ driftRows)
      .toDF("vec_id", "embedding")
    def maxCellFrac(): Double = {
      val counts = h.assignments.scan().groupBy("cell").count()
        .as[(Long, Long)].collect().map(_._2)
      counts.max.toDouble / counts.sum
    }
    val before = maxCellFrac()
    assert(before > 0.8, s"premise: drift must crowd one cell, got $before")
    val queries = all.filter(col("vec_id").isin(2L, 7L, 1003L, 2011L, 5004L, 9013L))
    // ---- maintenance, with probes INSIDE the window ----
    val kOld = h.centroids.countRows.toInt
    val cent = AnnIndex.trainFromIndex(h, cells = 4, iters = 2)
    // the retrain commit-order invariant: an ALL-CELL probe is exact — and
    // therefore identical — before, during, and after the window
    val np = math.max(kOld, cent.length)
    def allCellProbe(): Seq[org.apache.spark.sql.Row] =
      AnnIndex.probe(h, queries, k = 5, nprobe = np)
        .orderBy("qid", "rnk").collect().toSeq
    val beforeAll = allCellProbe()
    assert(beforeAll.size === 6 * 5)
    // drive retrain's two commits manually (same order rule) to probe the window
    val grow = cent.length > kOld
    if (grow) AnnIndex.publishCentroids(h, cent, fenceId = 0)
    else AnnIndex.reassignAll(h, cent, fenceId = 0)
    assert(allCellProbe() === beforeAll,
      "all-cell probe must be identical mid-maintenance (consistent snapshot)")
    // a small-nprobe mid-window probe stays VALID: every neighbor is a real
    // indexed vector with a well-formed rank (degraded recall — probed
    // cells not yet populated — is allowed; phantom rows are not)
    val midSmall = AnnIndex.probe(h, queries, k = 5, nprobe = 2).collect()
    val indexed = h.assignments.scan().select("vec_id").as[Long].collect().toSet
    assert(midSmall.nonEmpty && midSmall.length <= 6 * 5)
    assert(midSmall.forall(r => indexed(r.getLong(1)) &&
      r.getInt(2) >= 1 && r.getInt(2) <= 5))
    if (grow) AnnIndex.reassignAll(h, cent, fenceId = 0)
    else AnnIndex.publishCentroids(h, cent, fenceId = 0)
    assert(allCellProbe() === beforeAll,
      "all-cell probe must be identical after the maintenance window")
    // ---- drift healed: balance restored, recall certified ----
    val after = maxCellFrac()
    assert(after < before && after <= 0.6,
      s"retrain must rebalance cells: before=$before after=$after")
    val approx = AnnIndex.probe(h, queries, k = 5, nprobe = 2)
      .select("qid", "neighbor_id")
    val exact = SimilarityOps.cosineTopK(all, queries, k = 5)
      .select("qid", "neighbor_id")
    val hit = approx.join(exact, Seq("qid", "neighbor_id"), "leftsemi").count()
    val total = exact.count()
    assert(hit >= (total * 0.6).toLong,
      s"recall after 10x growth + maintenance too low: $hit / $total")
    // ---- exactly-once maintenance; ingest fence independent ----
    val (va, vc) = (h.assignments.currentVersion, h.centroids.currentVersion)
    AnnIndex.reassignAll(h, cent, fenceId = 0)
    AnnIndex.publishCentroids(h, cent, fenceId = 0)
    assert(h.assignments.currentVersion === va &&
      h.centroids.currentVersion === vc, "replayed maintenance must no-op")
    AnnIndex.appendBatch(h,
      Seq((99999L, vec(5, 6, 99999L))).toDF("vec_id", "embedding"), batchId = 11)
    assert(h.assignments.countRows === 221L,
      "maintenance must not fence out the ingest stream")
  }

  test("drift TRIGGER: appendBatch(retrainWhenSkew) self-retrains, persists stats, recall recovers") {
    val root = tmpDir("ann-index-trigger")
    // same planted-drift geometry as the manual-maintenance test: seed
    // region on axis 0, drift region on axis 5 with disjoint wobble axes —
    // every drift vector provably lands in ONE seed cell
    def vec(axis: Int, wobbleBase: Int, i: Long): Seq[Float] = {
      val a = Array.fill(dim)(0.05)
      a(axis) = 1.0
      a(wobbleBase + (i % 2).toInt) += 0.01 * (i % 5)
      a.map(_.toFloat).toSeq
    }
    val seed = (0L until 20L).map(i => (i, vec(0, 1, i))).toDF("vec_id", "embedding")
    val h = AnnIndex.create(spark, root, seed, cells = 4)
    // cooldown 1 = re-check occupancy EVERY batch: this test exercises the
    // trigger's heal-until-in-band behavior on a drift episode the retrain
    // only partially absorbs per pass (the cooldown's 1/N amortization is
    // the separate ADVICE-r15 test below)
    AnnIndex.appendBatch(h, seed, batchId = 0, retrainWhenSkew = 0.8,
      retrainCooldown = 1)
    assert(AnnIndex.status(h).lastRetrain.isEmpty,
      "no retrain may fire while occupancy is in-band")
    // drift batches with the trigger armed: the hot cell crosses 0.8 and
    // the ingest path self-heals — no operator CALL in the loop
    val driftRows = (1 to 6).flatMap { b =>
      (0L until 20L).map(j => (1000L * b + j, vec(5, 6, 1000L * b + j)))
    }
    (1 to 6).foreach { b =>
      AnnIndex.appendBatch(h,
        driftRows.filter(_._1 / 1000L == b).toDF("vec_id", "embedding"),
        batchId = b, retrainWhenSkew = 0.8, retrainCooldown = 1)
    }
    val s = AnnIndex.status(h)
    assert(s.nVectors === 140L)
    assert(s.maxCellFraction <= 0.8,
      s"trigger must have rebalanced the quantizer: $s")
    assert(s.lastRetrain.isDefined && s.lastRetrain.get.contains("max_cell_fraction"),
      s"retrain must persist its occupancy record: $s")
    // recall against the exact ranking recovers under the retrained cells
    val all = ((0L until 20L).map(i => (i, vec(0, 1, i))) ++ driftRows)
      .toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id").isin(2L, 7L, 1003L, 2011L, 5004L))
    val approx = AnnIndex.probe(h, queries, k = 5, nprobe = 2)
      .select("qid", "neighbor_id")
    val exact = SimilarityOps.cosineTopK(all, queries, k = 5)
      .select("qid", "neighbor_id")
    val hit = approx.join(exact, Seq("qid", "neighbor_id"), "leftsemi").count()
    val total = exact.count()
    assert(hit >= (total * 0.6).toLong,
      s"recall after trigger-driven maintenance too low: $hit / $total")
  }

  test("drift-trigger COOLDOWN: inherently skewed data retrains 1/N batches, not every batch (ADVICE r15)") {
    val root = tmpDir("ann-index-cooldown")
    // every vector identical (axis 0): NO retrain can spread them — the
    // hot-cell fraction is pinned at 1.0 and an un-cooled trigger would
    // fire a full O(index) retrain on every single batch
    def flat(ids: Range) = ids.map { i =>
      val a = Array.fill(dim)(0.0); a(0) = 1.0
      (i.toLong, a.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val h = AnnIndex.create(spark, root, flat(0 until 20), cells = 4)
    AnnIndex.appendBatch(h, flat(0 until 20), batchId = 0,
      retrainWhenSkew = 0.5, retrainCooldown = 3)
    assert(AnnIndex.lastRetrainFence(h) === Some(0L),
      "first over-threshold batch must retrain")
    // batches inside the cooldown window skip the trigger (fence frozen)
    (1 to 2).foreach { b =>
      AnnIndex.appendBatch(h, flat(100 * b until 100 * b + 20), batchId = b,
        retrainWhenSkew = 0.5, retrainCooldown = 3)
      assert(AnnIndex.lastRetrainFence(h) === Some(0L),
        s"batch $b is inside the cooldown and must not retrain")
    }
    // first batch past the cooldown re-checks and retrains again
    AnnIndex.appendBatch(h, flat(300 until 320), batchId = 3,
      retrainWhenSkew = 0.5, retrainCooldown = 3)
    assert(AnnIndex.lastRetrainFence(h) === Some(3L),
      "the batch past the cooldown must re-arm the trigger")
  }

  test("recall certificate holds after incremental growth") {
    val root = tmpDir("ann-index-recall")
    val all = corpus(0 until 160)
    val h = AnnIndex.create(spark, root, all.filter(col("vec_id") < 40), cells = 4)
    (0 until 4).foreach { b =>
      AnnIndex.appendBatch(h, all.filter(col("vec_id") % 4 === b), batchId = b)
    }
    val queries = all.filter(col("vec_id") < 8)
    val approx = AnnIndex.probe(h, queries, k = 5, nprobe = 2)
      .select("qid", "neighbor_id")
    val exact = SimilarityOps.cosineTopK(all, queries, k = 5)
      .select("qid", "neighbor_id")
    val hit = approx.join(exact, Seq("qid", "neighbor_id"), "leftsemi").count()
    val total = exact.count()
    assert(hit >= (total * 0.5).toLong,
      s"recall after incremental growth too low: $hit / $total")
  }

  test("centroid cache: an index dropped and re-created at the same root serves its own centroids") {
    val root = tmpDir("ann-index-recreate") + "/idx"
    val a = corpus(0 until 40)
    val first = AnnIndex.create(spark, root, a, cells = 4)
    val firstCentroids = first.centroidVectors
    val firstVersion = first.centroids.currentVersion
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    // same ids (so the same seeds are picked), every vector negated: the new
    // quantizer lands at the same root AND the same version number
    val b = a.select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    val second = AnnIndex.create(spark, root, b, cells = 4)
    assert(second.centroids.currentVersion === firstVersion)
    assert(second.centroidVectors === firstCentroids.map(_.map(x => -x)),
      "the re-created index must not serve the dropped index's centroids")
  }
}
