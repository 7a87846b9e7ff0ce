package cdcbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call into one layer. Times are epoch milliseconds with a
  * sub-millisecond fraction, so they compare with Spark's job event times. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** One Spark job as the listener saw it. */
final class JobRec(val start: Long, val desc: String) {
  @volatile var end: Long = -1L
  @volatile var tasks: Int = 0
  @volatile var shuffleWriteBytes: Long = 0L
  @volatile var inputBytes: Long = 0L
}

/** Per-trigger durations reported by the streaming query. */
final case class Trigger(at: Double, durations: Map[String, Long])

/** The traced run's recorder: spans around the benchmark's calls into each
  * layer, Spark jobs from a `SparkListener`, and trigger progress from a
  * `StreamingQueryListener`. Everything stays in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis().toDouble
  def now: Double = milliBase + (System.nanoTime() - nanoBase) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String)(body: => A): A = {
    val parent = stack.get.headOption.getOrElse(-1)
    val id = spans.synchronized { spans += Span(spans.size, parent, name, now, Double.NaN); spans.size - 1 }
    stack.set(id :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      spans.synchronized { spans(id) = spans(id).copy(end = now) }
    }
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val triggers: ArrayBuffer[Trigger] = ArrayBuffer.empty

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.time, desc))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) triggers.synchronized {
        triggers += Trigger(now,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Detaches the listeners after every queued event has been delivered. */
  def close(): Unit = {
    org.apache.spark.cdcbenchshim.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs that started inside the span's interval. */
  def jobsIn(s: Span): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.start >= math.floor(s.start) && j.start <= s.end).toSeq

  /** Length (s) of the union of the given jobs' intervals, clipped to the span. */
  def unionSeconds(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.start.toDouble, s.start), math.min(if (j.end < 0) s.end else j.end.toDouble, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total / 1000.0
  }
}

/** Process-wide CPU and GC clocks, read around a call. */
object JvmClock {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Files a finished query read, taken from its final physical plan. */
object PlanFiles {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def count(df: DataFrame): Long = {
    val plan = nodes(df.queryExecution.executedPlan)
    val v2 = plan.collect { case b: BatchScanExec =>
      b.inputPartitions.collect { case f: FilePartition => f.files.map(_.filePath.toString) }.flatten
    }.flatten.distinct.size
    val v1 = plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    v2 + v1
  }
}
