package org.apache.spark.sql.graftshim

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/**
 * The table's one Parquet write path: rows land as files straight in their
 * final directory and every file's manifest stats are gathered by the task
 * that writes it, so a commit needs no listing, no footer read and no second
 * pass over what it just wrote.
 *
 * The shape is Structured Streaming's exactly-once file sink
 * (`FileStreamSink.addBatch` + `ManifestFileCommitProtocol`): tasks write to
 * final paths and hand their files back in the task commit message; the
 * table's manifest CAS that follows is the only commit. A file whose commit
 * never lands is an orphan no manifest references, swept by
 * `removeOrphanFiles`.
 */
object ManifestWrite {

  /** What the tasks measure for each file, besides rows and bytes.
    *  - `keyCols`: the manifest key domain — a single integral column read
    *    as a long, or (`hashedKey`) `xxhash64(keyCols…)` with seed 42, the
    *    hash the table's `keyExpr` and the SQL planner use. Empty: no key
    *    (positional delete files), the range is the never-prunable full span.
    *  - `statsCols`: integral/date/timestamp columns whose [min, max] the
    *    manifest carries, as the Parquet footer reports them.
    *  - `bloomMaxRows`: files with at most this many rows get a key Bloom
    *    bitset (`graft.util.Bloom`); negative disables the Bloom. */
  final case class StatsSpec(keyCols: Seq[String], hashedKey: Boolean,
      statsCols: Seq[String] = Nil, bloomMaxRows: Long = -1L)

  /** One written file. `path` is the local path the file was created at;
    * `keyMin > keyMax` never occurs — a file with no non-null key reports
    * the full range. `stats` keys are lower-cased column names. */
  final case class WrittenFile(path: String, rows: Long, bytes: Long,
      keyMin: Long, keyMax: Long, stats: Map[String, (Long, Long)], bloom: Option[String])

  /** Write `df` as Parquet under `outDir` (Hive-style `<col>=<value>/`
    * directories when `partitionBy` is set) and return the files the
    * successful task attempts wrote, with their stats.
    *
    * `sweepUncommitted`: for directories that are referenced as a whole
    * (delete files), the job commit deletes every file in `outDir` that no
    * committed task reported — a task attempt that died without running
    * `abortTask` can then never surface inside a committed directory. */
  def write(df: DataFrame, outDir: String, partitionBy: Option[String],
      options: Map[String, String], spec: StatsSpec,
      sweepUncommitted: Boolean = false): Seq[WrittenFile] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val output = qe.analyzed.output
    val partCols = partitionBy.toSeq.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column $c not in ${output.mkString(", ")}")))
    val dataSchema = StructType(output.filterNot(a => partCols.exists(_.exprId == a.exprId))
      .map(a => StructField(a.name, a.dataType, a.nullable)))
    // Timestamp footer stats exist only for INT64 micros: INT96 carries
    // none, and millis would be in the wrong unit for the µs manifest.
    val microsTs =
      session.sessionState.conf.parquetOutputTimestampType.toString == "TIMESTAMP_MICROS"
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val tracker = new StatsJobTracker(spec, dataSchema, microsTs,
      new SerializableConfiguration(hadoopConf))
    val committer = new ManifestCommitProtocol(outDir, sweepUncommitted)
    SQLExecution.withNewExecutionId(qe, Some(s"write $outDir")) {
      FileFormatWriter.write(
        sparkSession = session,
        plan = qe.executedPlan,
        fileFormat = new ParquetFileFormat,
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(outDir, Map.empty, output),
        hadoopConf = hadoopConf,
        partitionColumns = partCols,
        bucketSpec = None,
        statsTrackers = Seq(tracker),
        options = options)
    }
    tracker.written
  }

  /** The local path a Hadoop path string names (percent escapes decoded,
    * as the local file system creates it). */
  private[graftshim] def localPath(p: String): String = new Path(p).toUri.getPath

  // ---------------------------------------------------------------- commit

  /** Commit protocol after `ManifestFileCommitProtocol`: no `_temporary`
    * directory, no rename and no `_SUCCESS` file. Tasks write
    * `part-<split>-<uuid><suffix>` files directly into `path` (and its
    * partition subdirectories); `commitTask` returns the attempt's files,
    * `abortTask` deletes them, `abortJob` deletes what committed tasks
    * wrote. One uuid per task attempt keeps a task's rolled files
    * (`-c000`, `-c001`, …) in path order. */
  private[graftshim] final class ManifestCommitProtocol(path: String,
      sweepUncommitted: Boolean) extends FileCommitProtocol with Serializable {
    @transient private var addedFiles: mutable.ArrayBuffer[String] = _
    @transient private var taskUuid: String = _
    @transient private lazy val committedFiles = mutable.ArrayBuffer.empty[String]

    override def setupJob(jobContext: JobContext): Unit = ()

    override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
      if (sweepUncommitted) {
        val keep = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]])
          .map(localPath).toSet
        val dir = new Path(path)
        val fs = dir.getFileSystem(jobContext.getConfiguration)
        if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          // `.`/`_` names are invisible to Parquet reads (checksums)
          if (st.isFile && !name.startsWith(".") && !name.startsWith("_") &&
              !keep.contains(st.getPath.toUri.getPath)) fs.delete(st.getPath, false)
        }
      }

    override def abortJob(jobContext: JobContext): Unit = {
      val conf = jobContext.getConfiguration
      committedFiles.foreach(deleteQuietly(_, conf))
    }

    override def onTaskCommit(taskCommit: TaskCommitMessage): Unit =
      committedFiles ++= taskCommit.obj.asInstanceOf[Seq[String]]

    override def setupTask(taskContext: TaskAttemptContext): Unit = {
      addedFiles = mutable.ArrayBuffer.empty[String]
      taskUuid = UUID.randomUUID().toString
    }

    override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val split = taskContext.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-$taskUuid${spec.suffix}"
      val file = dir.map(d => new Path(new Path(path, d), name))
        .getOrElse(new Path(path, name)).toString
      addedFiles += file
      file
    }

    override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext, absoluteDir: String,
        spec: FileNameSpec): String =
      throw new UnsupportedOperationException("custom partition locations are not written")

    override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(addedFiles.toSeq)

    override def abortTask(taskContext: TaskAttemptContext): Unit =
      if (addedFiles != null) {
        addedFiles.foreach(deleteQuietly(_, taskContext.getConfiguration))
        addedFiles.clear()
      }

    private def deleteQuietly(file: String, conf: Configuration): Unit =
      try { val p = new Path(file); p.getFileSystem(conf).delete(p, false); () }
      catch { case _: java.io.IOException => () }
  }

  // ----------------------------------------------------------------- stats

  private final case class TaskFiles(files: Seq[WrittenFile]) extends WriteTaskStats

  /** Driver half: resolves the spec against the written row layout once,
    * and receives the successful task attempts' files after the job. */
  private final class StatsJobTracker(spec: StatsSpec, dataSchema: StructType,
      microsTs: Boolean, conf: SerializableConfiguration) extends WriteJobStatsTracker {
    private def ordinal(c: String): Option[Int] =
      dataSchema.fields.indexWhere(_.name.equalsIgnoreCase(c)) match {
        case -1 => None
        case i => Some(i)
      }
    private val keyOrdinals: Seq[Int] = spec.keyCols.map(c => ordinal(c).getOrElse(
      throw new IllegalArgumentException(s"key column $c not in ${dataSchema.simpleString}")))
    private val statOrdinals: Seq[(String, Int)] = spec.statsCols.flatMap { c =>
      ordinal(c).filter(i => dataSchema(i).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case TimestampType => microsTs
        case _ => false
      }).map(c.toLowerCase(java.util.Locale.ROOT) -> _)
    }

    @transient private var collected: Seq[WrittenFile] = Seq.empty
    def written: Seq[WrittenFile] = collected

    override def newTaskInstance(): WriteTaskStatsTracker =
      new StatsTaskTracker(spec, dataSchema, keyOrdinals, statOrdinals, conf.value)

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      collected = stats.flatMap(_.asInstanceOf[TaskFiles].files)
  }

  private final class FileAcc(nStats: Int, withBloom: Boolean) {
    var rows = 0L
    var keyMin = Long.MaxValue
    var keyMax = Long.MinValue
    val mins: Array[Long] = Array.fill(nStats)(Long.MaxValue)
    val maxs: Array[Long] = Array.fill(nStats)(Long.MinValue)
    var bits: Array[Long] = if (withBloom) new Array[Long](graft.util.Bloom.Bits / 64) else null
  }

  /** Task half: one accumulator per open file, updated per written row. */
  private final class StatsTaskTracker(spec: StatsSpec, dataSchema: StructType,
      keyOrdinals: Seq[Int], statOrdinals: Seq[(String, Int)], conf: Configuration)
      extends WriteTaskStatsTracker {
    private val open = mutable.HashMap.empty[String, FileAcc]
    private val done = mutable.ArrayBuffer.empty[WrittenFile]
    private var lastPath: String = _
    private var last: FileAcc = _

    private def getter(ordinal: Int): InternalRow => Long =
      dataSchema(ordinal).dataType match {
        case ByteType => _.getByte(ordinal).toLong
        case ShortType => _.getShort(ordinal).toLong
        case IntegerType | DateType => _.getInt(ordinal).toLong
        case _ => _.getLong(ordinal)
      }

    /** A row's key; `noKey` is true for a null single-column key (hashing
      * never yields null: it folds nulls into the seed, as `keyExpr` does). */
    private val noKey: InternalRow => Boolean =
      if (keyOrdinals.isEmpty) _ => true
      else if (spec.hashedKey) _ => false
      else { val i = keyOrdinals.head; _.isNullAt(i) }
    private val keyOf: InternalRow => Long =
      if (keyOrdinals.isEmpty) _ => 0L
      else if (spec.hashedKey) {
        val hash = XxHash64(keyOrdinals.map(i =>
          BoundReference(i, dataSchema(i).dataType, nullable = true)), 42L)
        hash.eval(_).asInstanceOf[Long]
      } else getter(keyOrdinals.head)
    private val statGetters: Array[(Int, InternalRow => Long)] =
      statOrdinals.map { case (_, i) => (i, getter(i)) }.toArray
    private val withBloom = spec.bloomMaxRows >= 0 && keyOrdinals.nonEmpty

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit =
      open(filePath) = new FileAcc(statGetters.length, withBloom)

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne lastPath) { lastPath = filePath; last = open(filePath) }
      val a = last
      a.rows += 1
      if (!noKey(row)) {
        val k = keyOf(row)
        if (k < a.keyMin) a.keyMin = k
        if (k > a.keyMax) a.keyMax = k
        if (a.bits != null) {
          if (a.rows > spec.bloomMaxRows) a.bits = null
          else graft.util.Bloom.set(a.bits, k)
        }
      }
      var s = 0
      while (s < statGetters.length) {
        val (i, g) = statGetters(s)
        if (!row.isNullAt(i)) {
          val v = g(row)
          if (v < a.mins(s)) a.mins(s) = v
          if (v > a.maxs(s)) a.maxs(s) = v
        }
        s += 1
      }
    }

    override def closeFile(filePath: String): Unit = open.remove(filePath).foreach { a =>
      val p = new Path(filePath)
      val bytes = p.getFileSystem(conf).getFileStatus(p).getLen
      val seen = a.keyMin <= a.keyMax
      val stats = statOrdinals.indices.collect {
        case s if a.mins(s) <= a.maxs(s) => statOrdinals(s)._1 -> (a.mins(s), a.maxs(s))
      }.toMap
      done += WrittenFile(localPath(filePath), a.rows, bytes,
        if (seen) a.keyMin else Long.MinValue, if (seen) a.keyMax else Long.MaxValue,
        stats,
        if (a.bits != null && seen && a.rows <= spec.bloomMaxRows)
          Some(graft.util.Bloom.encode(a.bits)) else None)
      if (filePath eq lastPath) { lastPath = null; last = null }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      Option(TaskContext.get()).map(_.taskMetrics().outputMetrics).foreach { m =>
        m.setBytesWritten(done.map(_.bytes).sum)
        m.setRecordsWritten(done.map(_.rows).sum)
      }
      TaskFiles(done.toSeq)
    }
  }
}
