package cdcbench

import java.nio.file.{Files, Paths}

/** Turns the traced run's spans, jobs and triggers into the per-layer
  * metrics. Each metric is recorded per batch, trigger or call of the timed
  * phase and reported as its median; a layer the workload does not exercise
  * reports 0. */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def report(tr: Tracer, phaseStart: Double, samples: Map[String, Seq[Double]],
      batchS: Seq[Double], freshS: Seq[Double]): Seq[(String, (Double, String))] = {
    val spans = tr.spans.synchronized(tr.spans.toVector).filter(_.start >= phaseStart)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = med(named(n).map(_.seconds))
    def perSpan(n: String)(f: Span => Double) = med(named(n).map(f))
    def jobs(s: Span) = tr.jobsIn(s)
    def labelled(prefix: String)(s: Span) = tr.unionSeconds(s, jobs(s).filter(_.desc.startsWith(prefix)))
    def sample(n: String) = med(samples.getOrElse(n, Nil))
    val batchSpans = spans.filter(s => s.name == "batch" || s.name == "stream.batch")
    val children = spans.groupBy(_.parent)
    // Share of a batch's wall time inside the layer calls it made.
    val coverage = med(batchSpans.map { b =>
      children.getOrElse(b.id, Nil).map(_.seconds).sum / b.seconds
    })
    // Share of a batch's wall time during which no Spark job ran.
    val gapShare = med(batchSpans.map(b => 1.0 - tr.unionSeconds(b, jobs(b)) / b.seconds))
    val triggers = tr.triggers.synchronized(tr.triggers.toVector).filter(_.at >= phaseStart)
    def dur(k: String) = med(triggers.map(_.durations.getOrElse(k, 0L) / 1000.0))
    Seq(
      "cdc.dedup_s" -> (secs("cdc.dedup"), "s"),
      "cdc.keep_ratio" -> (sample("cdc.keep_ratio"), "ratio"),
      "table.merge_s" -> (secs("table.merge"), "s"),
      "table.merge_jobs" -> (perSpan("table.merge")(jobs(_).size.toDouble), "count"),
      "table.merge_tasks" -> (perSpan("table.merge")(jobs(_).map(_.tasks).sum.toDouble), "count"),
      "table.merge_shuffle_bytes" -> (perSpan("table.merge")(jobs(_).map(_.shuffleWriteBytes).sum.toDouble), "B"),
      "table.merge_plan_keys_s" -> (perSpan("table.merge")(labelled("merge:plan-keys")), "s"),
      "table.commit_write_s" -> (perSpan("table.merge")(labelled("commit:write")), "s"),
      "table.commit_pk_pass_s" -> (perSpan("table.merge")(labelled("commit:pk-pass")), "s"),
      "table.merge_driver_gap_s" -> (perSpan("table.merge")(s => s.seconds - tr.unionSeconds(s, jobs(s))), "s"),
      "table.files_rewritten" -> (sample("table.files_rewritten"), "count"),
      "table.bytes_written" -> (sample("table.bytes_written"), "B"),
      "table.data_files" -> (sample("table.data_files"), "count"),
      "table.delete_files" -> (sample("table.delete_files"), "count"),
      "table.compact_s" -> (secs("table.compact"), "s"),
      "table.compact_bytes_rewritten" -> (sample("table.compact_bytes_rewritten"), "B"),
      "table.changes_s" -> (secs("table.changes"), "s"),
      "sql.query_jobs" -> (perSpan("sql.query")(jobs(_).size.toDouble), "count"),
      "sql.query_tasks" -> (perSpan("sql.query")(jobs(_).map(_.tasks).sum.toDouble), "count"),
      "sql.query_files_read" -> (sample("sql.query_files_read"), "count"),
      "sql.query_input_bytes" -> (perSpan("sql.query")(jobs(_).map(_.inputBytes).sum.toDouble), "B"),
      "sql.lookup_files_read" -> (sample("sql.lookup_files_read"), "count"),
      "sql.lookup_input_bytes" -> (perSpan("sql.lookup")(jobs(_).map(_.inputBytes).sum.toDouble), "B"),
      "sql.lookup_jobs" -> (perSpan("sql.lookup")(jobs(_).size.toDouble), "count"),
      "sql.mv_refresh_s" -> (secs("sql.mv_refresh"), "s"),
      "sql.mv_refresh_jobs" -> (perSpan("sql.mv_refresh")(jobs(_).size.toDouble), "count"),
      "stream.trigger_s" -> (dur("triggerExecution"), "s"),
      "stream.add_batch_s" -> (dur("addBatch"), "s"),
      "stream.wal_commit_s" -> (dur("walCommit"), "s"),
      "stream.latest_offset_s" -> (dur("latestOffset"), "s"),
      "stream.jobs_per_trigger" -> (perSpan("stream.fresh")(jobs(_).size.toDouble), "count"),
      "jvm.cpu_s" -> (sample("jvm.cpu_s"), "s"),
      "jvm.gc_s" -> (sample("jvm.gc_s"), "s"),
      "trace.batch_s_p50" -> (med(batchS), "s"),
      "trace.fresh_s_p50" -> (med(freshS), "s"),
      "trace.coverage" -> (coverage, "ratio"),
      "trace.driver_gap_share" -> (gapShare, "ratio"))
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(tr: Tracer, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val lines = tr.spans.synchronized(tr.spans.toVector).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
