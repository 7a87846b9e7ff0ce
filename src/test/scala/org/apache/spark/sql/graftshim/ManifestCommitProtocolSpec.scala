package org.apache.spark.sql.graftshim

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}
import org.apache.spark.internal.io.FileNameSpec
import org.scalatest.funsuite.AnyFunSuite

/** The no-rename commit protocol on its own: task attempts write final
  * paths, and a directory referenced as a whole holds exactly the files of
  * the committed attempts after the job commit. */
class ManifestCommitProtocolSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private def attempt(split: Int, n: Int) = new TaskAttemptContextImpl(conf,
    new TaskAttemptID("graft", 0, TaskType.MAP, split, n))
  private def listed(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet }
    finally s.close()
  }

  test("uncommitted and aborted attempts never survive a sweeping job commit") {
    val dir = Files.createTempDirectory("mcp").resolve("v1_deletes").toString
    val protocol = new ManifestWrite.ManifestCommitProtocol(dir, sweepUncommitted = true)
    protocol.setupJob(new JobContextImpl(conf, new JobID("graft", 0)))
    def write(ctx: TaskAttemptContextImpl): String = {
      protocol.setupTask(ctx)
      val f = protocol.newTaskTempFile(ctx, None, FileNameSpec("", ".parquet"))
      Files.createDirectories(Paths.get(f).getParent)
      Files.write(Paths.get(f), Array[Byte](1, 2, 3))
      f
    }
    // split 0, attempt 0: its executor is lost — neither commit nor abort runs
    val lost = write(attempt(0, 0))
    // split 0, attempt 1: commits
    val kept = write(attempt(0, 1))
    val msg = protocol.commitTask(attempt(0, 1))
    // split 1: fails, and its abort deletes what it wrote
    val failed = write(attempt(1, 0))
    protocol.abortTask(attempt(1, 0))
    assert(!Files.exists(Paths.get(failed)))
    assert(listed(dir) === Set(lost, kept).map(Paths.get(_).getFileName.toString))
    protocol.commitJob(new JobContextImpl(conf, new JobID("graft", 0)), Seq(msg))
    assert(listed(dir) === Set(Paths.get(kept).getFileName.toString))
    assert(!listed(dir).exists(n => n.startsWith("_") || n.contains("temporary")))
    assert(Paths.get(kept).getFileName.toString.matches("part-00000-[0-9a-f-]{36}\\.parquet"))
  }

  test("abortJob deletes the files of committed tasks") {
    val dir = Files.createTempDirectory("mcp-abort").resolve("v1").toString
    val protocol = new ManifestWrite.ManifestCommitProtocol(dir, sweepUncommitted = false)
    val ctx = attempt(0, 0)
    protocol.setupTask(ctx)
    val f = protocol.newTaskTempFile(ctx, Some("_p=a%3Ab"), FileNameSpec("", "-c000.parquet"))
    assert(f.startsWith(s"$dir/_p=a%3Ab/part-00000-"))
    Files.createDirectories(Paths.get(f).getParent)
    Files.write(Paths.get(f), Array[Byte](1))
    protocol.onTaskCommit(protocol.commitTask(ctx))
    protocol.abortJob(new JobContextImpl(conf, new JobID("graft", 0)))
    assert(!Files.exists(Paths.get(f)))
  }
}
