package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Table metadata goes through the handle's [[CommitIO]] and nothing else:
  * every metadata object a table holds was written by it, and a crash at
  * any of its mutating calls leaves a table that reopens to an acknowledged
  * state, on which the crashed operation runs again to completion. */
class MetadataIoSpec extends graft.SparkSpec {
  import spark.implicits._

  private val sch = StructType.fromDDL("id LONG, v STRING")

  private final class SimulatedCrash(n: Int)
      extends RuntimeException(s"simulated crash at mutating call $n")

  /** POSIX underneath. Records every object it writes; the `crashAt`-th
    * mutating call (putIfAbsent, putAtomic or delete) throws instead of
    * running. `agedMs` is added to every object's age, standing in for a
    * clock that has run past the orphan-claim grace window. */
  private final class TestIO(crashAt: Int = Int.MaxValue, agedMs: Long = 0L) extends CommitIO {
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val mutations = new AtomicInteger()
    private def mutate(): Unit = {
      val n = mutations.incrementAndGet()
      if (n == crashAt) throw new SimulatedCrash(n)
    }
    override def putIfAbsent(path: Path, bytes: Array[Byte]): Unit = {
      mutate(); PosixCommitIO.putIfAbsent(path, bytes); written.add(path.toString); ()
    }
    override def putAtomic(path: Path, bytes: Array[Byte]): Unit = {
      mutate(); PosixCommitIO.putAtomic(path, bytes); written.add(path.toString); ()
    }
    override def delete(path: Path): Unit = { mutate(); PosixCommitIO.delete(path) }
    override def read(path: Path): Array[Byte] = PosixCommitIO.read(path)
    override def exists(path: Path): Boolean = PosixCommitIO.exists(path)
    override def modifiedAtMs(path: Path): Long = PosixCommitIO.modifiedAtMs(path) - agedMs
    override def list(dir: Path): Seq[Path] = PosixCommitIO.list(dir)
  }

  private def rows(kv: (Long, String)*): DataFrame = kv.toDF("id", "v")
  private def keys(ids: Long*): DataFrame = ids.toDF("id")
  private def state(root: String): Set[(Long, String)] =
    TransactionalTable.open(spark, root).scan().as[(Long, String)].collect().toSet

  private def walk(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  test("every metadata object of a table is written through its CommitIO") {
    val root = tmpDir("mio-bypass") + "/t"
    TransactionalTable.create(spark, root, sch, "id")
    val t = TransactionalTable.open(spark, root)
    val io = new TestIO
    t.commitIo = io
    t.append(rows(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "a"), batchId = 0)
    t.merge(rows(2L -> "b", 5L -> "b"), keys(1L), batchId = 1)
    t.merge(rows(3L -> "c"), keys(4L), batchId = 2, MergeMode.MergeOnRead)
    t.compact()
    t.createTag("compacted")
    val b = t.createBranch("b")
    b.merge(rows(6L -> "d"), keys(5L), batchId = 3)
    t.publish("b")
    t.expireSnapshots(keepLast = 2)
    assert(NdvStats.analyze(t, Seq("v"))("v") === 3L)
    assert(t.history().count() >= 2L)
    assert(t.versionAt(System.currentTimeMillis()) === t.currentVersion)
    val published = state(root)
    val publishedVersion = t.currentVersion
    t.rollbackTo(t.tags("compacted"))
    t.rollbackTo(publishedVersion)
    assert(state(root) === published)

    val rootPath = Paths.get(root)
    val metadata = walk(rootPath).filter(Files.isRegularFile(_))
      .filterNot(_.startsWith(rootPath.resolve("data")))
      .map(p => rootPath.relativize(p).toString)
      // written once by create, before this io was installed
      .filterNot(_ == "_table.json").toSet
    val viaIo = io.written.asScala.map(p => rootPath.relativize(Paths.get(p)).toString).toSet
    assert((metadata -- viaIo).isEmpty, s"metadata written around the io: ${metadata -- viaIo}")
    for (expected <- Seq("_current", "_refs.json", "_expiry_floor", "_ndv.json",
        "manifest/branches/b/_current", "manifest/branches/b/_published"))
      assert(metadata(expected), s"$expected present")
    assert(metadata.exists(_.matches("manifest/v\\d+\\.json")))
    assert(metadata.exists(_.startsWith("manifest/chunks/c-")))
    assert(metadata.exists(_.matches("manifest/branches/b/v\\d+\\.json")))
    assert(metadata.exists(_.startsWith("manifest/branches/b/chunks/c-")))
  }

  test("a crash at any mutating metadata call reopens to an acknowledged state; re-running the step succeeds") {
    val root = tmpDir("mio-crash") + "/t"
    TransactionalTable.create(spark, root, sch, "id")
    TransactionalTable.open(spark, root)
      .append(rows((1L to 6L).map(_ -> "a"): _*), batchId = 0)
    // (step, main rows after it)
    val m0 = (1L to 6L).map(_ -> "a").toSet
    val m1 = m0 - (1L -> "a") - (2L -> "a") + (2L -> "b") + (7L -> "b")
    val m2 = m1 - (3L -> "a") - (4L -> "a") + (3L -> "c") + (8L -> "c")
    val m6 = m2 - (5L -> "a") + (9L -> "d")
    val steps: Seq[(String, TransactionalTable => Unit, Set[(Long, String)])] = Seq(
      ("cow merge", _.merge(rows(2L -> "b", 7L -> "b"), keys(1L), batchId = 1), m1),
      ("mor merge", _.merge(rows(3L -> "c", 8L -> "c"), keys(4L), batchId = 2,
        MergeMode.MergeOnRead), m2),
      ("compact", _.compact(), m2),
      ("create branch", t => { t.createBranch("b"); () }, m2),
      ("branch commit", _.branch("b").merge(rows(9L -> "d"), keys(5L), batchId = 3), m2),
      ("publish", _.publish("b"), m6),
      ("expire", _.expireSnapshots(keepLast = 2), m6))

    val backup = Paths.get(root + ".bak")
    def copyTree(from: Path, to: Path): Unit =
      walk(from).foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    def restore(): Unit = {
      graft.util.Fs.deleteRecursively(Paths.get(root))
      copyTree(backup, Paths.get(root))
    }
    var before = m0
    var crashes = 0
    steps.foreach { case (name, step, after) =>
      graft.util.Fs.deleteRecursively(backup)
      copyTree(Paths.get(root), backup)
      var n = 1
      var done = false
      while (!done) {
        restore()
        val t = TransactionalTable.open(spark, root)
        t.commitIo = new TestIO(crashAt = n)
        try { step(t); done = true }
        catch { case _: SimulatedCrash => () }
        val seen = state(root)
        if (done) assert(seen === after, s"$name completed")
        else {
          crashes += 1
          assert(seen === before || seen === after,
            s"$name, crash at mutating call $n: reopened to an unacknowledged state")
          // the next commit: the crashed step, re-run on a fresh handle
          val retry = TransactionalTable.open(spark, root)
          retry.commitIo = new TestIO(agedMs = TransactionalTable.OrphanManifestGraceMs)
          step(retry)
          assert(state(root) === after, s"$name, crash at mutating call $n: re-run")
          n += 1
        }
      }
      before = after
    }
    assert(crashes >= steps.length, s"every step crashed at least once ($crashes crashes)")
    graft.util.Fs.deleteRecursively(backup)
  }
}
