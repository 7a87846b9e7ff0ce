package graft.table

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.functions.{col, hll_sketch_agg}

/**
 * Column NDV statistics for the cost-based optimizer (Iceberg puffin /
 * `ANALYZE TABLE` parity — completes E63/E88's exact rows/bytes + [min,max]
 * with distinct counts so CBO's equality-selectivity and join-size
 * estimates work from cardinality, not just ranges).
 *
 * Design: ONE distributed pass with Spark's DataSketches HLL aggregate
 * (`hll_sketch_agg` — map-side partial sketches, one tiny merge), triggered
 * by `CALL cat.system.analyze('db.t', 'col,...')`. Parquet footers carry no
 * NDV, so true per-file sketches would need a second data read per commit;
 * the analyze posture computes them when asked and pins the snapshot
 * version they describe — exactly how Iceberg stores puffin theta sketches
 * and Spark stores `ANALYZE TABLE` results. The serialized sketches are
 * kept alongside the estimates so they stay UNION-MERGEABLE: a future
 * incremental refresh can fold an ingest batch's sketch in without a full
 * rescan (HLL union = distinct-of-union, exact under overlap; deletes make
 * a stale NDV an upper bound, the safe direction for CBO).
 *
 * Persistence: `_ndv.json` at the table root, published with the table's
 * [[CommitIO]] `putAtomic` like every other metadata write.
 */
object NdvStats {

  private def path(root: String) = Paths.get(root, "_ndv.json")

  /** Compute + persist HLL NDV for `cols` over the CURRENT snapshot.
    * Returns col → estimate. */
  def analyze(t: TransactionalTable, cols: Seq[String]): Map[String, Long] = {
    require(cols.nonEmpty, "analyze needs at least one column")
    val missing = cols.filterNot(c => t.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
    val aggs = cols.map(c => hll_sketch_agg(col(c)).as(c))
    val sketchRow = t.scan().agg(aggs.head, aggs.drop(1): _*).head()
    val om = new ObjectMapper()
    val node = om.createObjectNode()
    node.put("version", t.currentVersion)
    val colsNode = node.putObject("cols")
    val estimates = cols.zipWithIndex.map { case (c, i) =>
      // an all-NULL (or empty-table) column yields a null sketch: NDV 0
      val bytes = Option(sketchRow.getAs[Array[Byte]](i))
      val ndv = bytes.fold(0L)(estimate)
      val entry = colsNode.putObject(c.toLowerCase(java.util.Locale.ROOT))
      entry.put("ndv", ndv)
      bytes.foreach(b => entry.put("sketch", java.util.Base64.getEncoder.encodeToString(b)))
      c.toLowerCase(java.util.Locale.ROOT) -> ndv
    }.toMap
    t.commitIo.putAtomic(path(t.root), om.writeValueAsBytes(node))
    estimates
  }

  /** Rounded DataSketches estimate (same rounding as `hll_sketch_estimate`). */
  private def estimate(bytes: Array[Byte]): Long =
    Math.round(org.apache.datasketches.hll.HllSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes)).getEstimate)

  /** Recorded stats: (analyzed snapshot version, lower-cased col → NDV).
    * Served to the planner even when the snapshot has moved on — an
    * approximate-but-stale cardinality beats none for CBO (the Iceberg
    * posture); `analyzedVersion` is exposed for observability. Read by path,
    * like [[TransactionalTable.open]], through [[PosixCommitIO]]. */
  def read(root: String): Option[(Long, Map[String, Long])] =
    PosixCommitIO.readIfExists(path(root)).flatMap { bytes =>
      try {
        val node = new ObjectMapper().readTree(bytes)
        val out = node.get("cols").properties().asScala
          .map(e => e.getKey -> e.getValue.get("ndv").asLong()).toMap
        Some((node.get("version").asLong(), out))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
}
