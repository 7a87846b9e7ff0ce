package graft.table

/**
 * The one parser of immutable manifest chunk files. A table handle's chunk
 * loader reads a chunk's bytes through its table's [[CommitIO]] and calls
 * [[fromBytes]]; the distributed metadata scans (graft.sql) and the
 * distributed orphan-file and expiry sweeps call [[parse]] on executors:
 * chunk files live under the table root on the same shared storage as the
 * data, so executors read them wherever the data itself is readable.
 */
object ChunkJson {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Test-observable count of path parses (per-JVM; in local mode
    * executor-side parses tick it too, so specs can assert "planning parses
    * zero chunks, execution parses exactly the matching ones"). A handle's
    * loads count in `TransactionalTable.chunkLoads` instead. */
  val parses = new java.util.concurrent.atomic.AtomicLong()

  /** Read and parse one chunk file by path (executor side). */
  def parse(path: String): IndexedSeq[DataFile] = {
    parses.incrementAndGet()
    fromBytes(PosixCommitIO.read(java.nio.file.Paths.get(path)))
  }

  /** Parse one chunk file's bytes. */
  def fromBytes(bytes: Array[Byte]): IndexedSeq[DataFile] = files(mapper.readTree(bytes))

  /** The `files` entries of a chunk — or of a legacy inline manifest, which
    * has the same shape. */
  private[table] def files(node: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[DataFile] = {
    import scala.jdk.CollectionConverters._
    node.get("files").elements().asScala.map { f =>
      DataFile(
        f.get("path").asText(),
        if (f.get("partition").isNull) None else Some(f.get("partition").asText()),
        f.get("pkMin").asLong(), f.get("pkMax").asLong(), f.get("rows").asLong(),
        // pre-`bytes` entries: stat the data file once on read (local legacy only)
        if (f.has("bytes")) f.get("bytes").asLong()
        else java.nio.file.Files.size(java.nio.file.Paths.get(f.get("path").asText())),
        if (f.has("bloom")) Some(f.get("bloom").asText()) else None,
        if (!f.has("stats")) Map.empty
        else f.get("stats").properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
        }.toMap,
        if (f.has("specId")) f.get("specId").asInt() else 0,
        if (f.has("frid")) Some(f.get("frid").asLong()) else None)
    }.toIndexedSeq
  }
}
