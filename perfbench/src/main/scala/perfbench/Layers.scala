package perfbench

/** Per-layer metrics from the spans and the job listener. */
object Layers {
  def apply(rec: Recorder, l: JobListener, w: Window,
      extras: Map[String, Double]): Map[String, Double] = {
    val spans = rec.all.filter(s => s.startNs >= w.fromNs && s.endNs <= w.toNs)
    val jobs = l.jobsIn(w.fromMs, w.toMs)
    val tasks = l.tasksIn(w.fromMs, w.toMs)
    val wallS = (w.toMs - w.fromMs) / 1e3
    def named(n: String) = spans.filter(_.name == n)
    def med(n: String) = Stats.median(named(n).map(_.ms))
    def jobsOf(ns: String*) = jobs.count(j => ns.contains(j.span)).toDouble
    def per(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val runtimeTasks = tasks.filter(_.span == "runtime.batch")
    val scan = runtimeTasks.filter(_.inBytes > 0)
    val taskRunS = tasks.map(_.runMs).sum / 1e3

    val batches = extras.getOrElse("runtime.batches", named("runtime.batch").size.toDouble)
    val commits = named("sink.commit")
    val folding = commits.filter(c => spans.exists(s => s.parent == c.id &&
      s.name == "sink.compact"))
    val sinkBytes = tasks.filter(t => t.span == "sink.commit" ||
      t.span == "sink.compact").map(_.outBytes).sum.toDouble
    val rowsIn = extras.getOrElse("cdc.rows_in", 0.0)
    val rowsOut = extras.getOrElse("cdc.rows_out", 0.0)

    val spark = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> taskRunS,
      "spark.driver_gap_s" -> JobListener.gapMs(tasks, w.fromMs, w.toMs) / 1e3,
      "spark.parallelism" -> per(taskRunS, wallS),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleReadBytes).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.stream.offsets_ms" -> 0.0,
      "spark.stream.plan_ms" -> 0.0,
      "spark.stream.log_ms" -> 0.0)
    val layers = Map(
      "sources.scan_task_s" -> scan.map(_.runMs).sum / 1e3,
      "sources.bytes_read" -> runtimeTasks.map(_.inBytes).sum.toDouble,
      "sources.rows_read" -> runtimeTasks.map(_.inRecords).sum.toDouble,
      "cdc.compact_task_s" ->
        runtimeTasks.filter(_.shuffleReadBytes > 0).map(_.runMs).sum / 1e3,
      "cdc.rows_in" -> rowsIn,
      "cdc.rows_out" -> rowsOut,
      "cdc.keep_ratio" -> per(rowsOut, rowsIn),
      "runtime.batch_ms" -> med("runtime.batch"),
      "runtime.self_ms" -> Stats.median(named("runtime.batch").map(rec.selfMs(_, spans))),
      "runtime.jobs_per_batch" -> per(jobsOf("runtime.batch"), batches),
      "sink.commit_ms" -> Stats.median(commits.diff(folding).map(_.ms)),
      "sink.compact_ms" -> med("sink.compact"),
      "sink.compactions" -> named("sink.compact").size.toDouble,
      "sink.jobs_per_commit" ->
        per(jobsOf("sink.commit", "sink.compact"), commits.size),
      "sink.bytes_written" -> sinkBytes,
      "sink.write_amp" -> per(sinkBytes, extras.getOrElse("sink.index_bytes", 0.0)),
      "sink.delta_depth" -> extras.getOrElse("sink.delta_depth", 0.0),
      // reads may follow the write window (cdc_stream reads the
      // caught-up index), so every read of the run counts
      "sink.read_ms" ->
        Stats.median(rec.all.filter(_.name.startsWith("sink.read.")).map(_.ms)),
      "sink.maintain_ms" -> med("sink.vacuum"),
      "stores.maintain_ms" ->
        Stats.median(named("stores.maintain").map(rec.selfMs(_, spans))),
      "stores.compactions" -> 0.0,
      "stores.pending_depth" -> 0.0)
    // the stats store takes no deletes, so it has no delete_ms
    val stores = graft.sink.Stores.Kinds.flatMap { k =>
      val p = s"stores.$k"
      Seq(s"$p.upsert_ms" -> med(s"$p.upsert"),
        s"$p.read_ms" -> med(s"$p.read"),
        s"$p.jobs_per_commit" -> per(jobsOf(s"$p.upsert", s"$p.delete"),
          named(s"$p.upsert").size + named(s"$p.delete").size)) ++
        (if (k == "stats") Nil else Seq(s"$p.delete_ms" -> med(s"$p.delete")))
    }.toMap
    // self time per layer: each span minus its child spans, summed
    val self = spans.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      s"self.${layer}_s" -> ss.map(rec.selfMs(_, spans)).sum / 1e3
    }
    val topLevel = extras.getOrElse("top_level_ms",
      spans.filter(_.parent == 0).map(_.ms).sum)
    val zero = Seq("runtime", "sink", "stores", "stream", "bench")
      .map(l => s"self.${l}_s" -> 0.0).toMap
    // window time outside every top-level span is the bench's own
    val bench = "self.bench_s" -> (self.getOrElse("self.bench_s", 0.0) +
      wallS - topLevel / 1e3)
    spark ++ layers ++ stores ++ zero ++ self + bench ++ extras
  }

  /** The layer a span belongs to: its name's first segment. Rounds are
    * the bench's own grouping.
    */
  private def layerOf(name: String): String = name.split('.').head match {
    case "round" => "bench"
    case other => other
  }
}
