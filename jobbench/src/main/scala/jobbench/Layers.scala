package jobbench

/** Reduction of traced operation windows to the per-layer metrics. Each
  * per-window value is a count or time of one epoch or cycle; the
  * reported value is the median over the traced windows. A metric that
  * does not apply to a workload (lookups on batch_load, quarantine on
  * cdc_epochs, streaming phases outside stream_scd2) reads 0.
  */
object Layers {
  /** cdc_epochs reduces exactly this many traced epochs (the first
    * traced cycle of delta sizes), so two traced runs with one seed
    * reduce the same epochs and report identical counts.
    */
  val DeterministicWindows: Int = Gen.KeySpread.size

  private val FsKinds = Seq("list", "stat", "open", "create", "rename", "delete", "mkdirs")

  /** A streaming trigger's phase durations, carried as attributes of
    * its span under these names (from the progress report's
    * `durationMs`).
    */
  val StreamTimes = Seq("trigger_s", "add_batch_s", "latest_offset_s", "wal_commit_s",
    "commit_offsets_s", "query_planning_s")

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "driver.self_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.max_task_share" -> "ratio",
    "sources.files_listed" -> "count", "sources.rows_scanned_per_delta_row" -> "ratio",
    "runner.lock_s" -> "s", "runner.lock_fs_ops" -> "count", "runner.delta_stats_s" -> "s",
    "state.fs_ops" -> "count", "state.fs_s" -> "s",
    "quality.quarantine_write_s" -> "s", "quality.quarantined_ratio" -> "ratio",
    "sink.staged_write_s" -> "s", "sink.publish_s" -> "s", "sink.publish_fs_ops" -> "count",
    "sink.commit_exec_s" -> "s", "sink.commit_meta_s" -> "s",
    "sink.committer_fs_ops" -> "count", "sink.files_written" -> "count",
    "sink.bytes_written" -> "bytes", "sink.rows_written_per_delta_row" -> "ratio",
    "sink.touched_share" -> "ratio", "sink.manifest_reads" -> "count", "sink.lookup_s" -> "s") ++
    StreamTimes.map(k => s"streaming.$k" -> "s") ++ Seq(
    "streaming.files_per_batch" -> "count", "streaming.backlog_files" -> "count",
    "streaming.gen_late_s" -> "s") ++
    FsKinds.map(k => s"fs.ops.$k" -> "count") ++ Seq(
    "fs.driver_s" -> "s", "jvm.heap_peak_mb" -> "MiB", "jvm.gc_s" -> "s",
    "trace.overhead" -> "ratio") ++
    Trace.Layers.map(l => s"self.${l}_s" -> "s")

  private def median(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else Bench.median(xs)

  /** Per-window values of one operation window. */
  private def values(w: Trace.Window, source: String, quarantine: String): Map[String, Double] = {
    val a = w.span.attrs
    val deltaRows = a.getOrElse("delta_rows", 0.0).max(1.0)
    def sumT(f: Trace.TaskRec => Double) = w.tasks.map(f).sum
    import Trace.innermost
    val driverFs = w.fs.filterNot(_.executor)
    val heaviest = w.tasks.groupBy(_.stageId).values.maxByOption(_.map(_.durMs).sum)
    Map(
      "spark.jobs" -> w.jobs.size.toDouble,
      "spark.stages" -> w.stages.count(_.tasks > 0).toDouble,
      "spark.tasks" -> w.tasks.size.toDouble,
      "spark.job_busy_s" -> w.jobBusyS,
      "driver.self_s" -> w.driverSelfS,
      "spark.executor_run_s" -> sumT(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> sumT(_.cpuNs) / 1e9,
      "spark.gc_s" -> sumT(_.gcMs) / 1e3,
      "spark.shuffle_write_bytes" -> sumT(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> sumT(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> sumT(_.spill.toDouble),
      "spark.max_task_share" -> heaviest.map(ts =>
        ts.map(_.durMs).max.toDouble / ts.map(_.durMs).sum.max(1L)).getOrElse(0.0),
      "sources.files_listed" -> w.fs.filter(o => o.kind == "list" && o.path.contains(source))
        .map(_.entries).sum.toDouble,
      "sources.rows_scanned_per_delta_row" -> sumT(_.recordsRead.toDouble) / deltaRows,
      "runner.lock_s" -> w.fsTimeS(_.innermost.startsWith("graft.runner.JobLock")),
      "runner.lock_fs_ops" ->
        driverFs.count(_.innermost.startsWith("graft.runner.JobLock")).toDouble,
      "runner.delta_stats_s" -> w.jobTimeS(j => innermost(j._2).startsWith("graft.runner.JobConfig")),
      "state.fs_ops" -> driverFs.count(_.layer == "state").toDouble,
      "state.fs_s" -> w.fsTimeS(_.layer == "state"),
      "quality.quarantine_write_s" -> (if (quarantine.isEmpty) 0.0
        else w.jobTimeS(j => w.plan(j._1).contains(quarantine))),
      "quality.quarantined_ratio" -> a.getOrElse("quarantined", 0.0) / deltaRows,
      "sink.staged_write_s" -> w.jobTimeS(j => innermost(j._2).contains("Publisher.writeStaged")),
      "sink.publish_s" -> w.fsTimeS(_.under("graft.sink.Publisher.publish")),
      "sink.publish_fs_ops" -> driverFs.count(_.under("graft.sink.Publisher.publish")).toDouble,
      "sink.commit_exec_s" -> w.jobTimeS(j => innermost(j._2).startsWith("graft.sink.ShardedTable")),
      "sink.commit_meta_s" -> w.fsTimeS(_.under("ShardedTable.commit")),
      "sink.committer_fs_ops" -> w.fs.count(o => o.executor && o.committer).toDouble,
      "sink.files_written" -> w.fs.count(o => o.executor && o.kind == "create").toDouble,
      "sink.bytes_written" -> sumT(_.bytesWritten.toDouble),
      "sink.rows_written_per_delta_row" -> sumT(_.recordsWritten.toDouble) / deltaRows,
      "sink.touched_share" -> a.getOrElse("touched", 0.0) / Gen.Shards,
      "streaming.files_per_batch" -> a.getOrElse("files", 0.0),
      "streaming.backlog_files" -> a.getOrElse("backlog", 0.0),
      "fs.driver_s" -> w.fsDriverS) ++
      StreamTimes.map(k => s"streaming.$k" -> a.getOrElse(k, 0.0)) ++
      FsKinds.map(k => s"fs.ops.$k" -> w.fs.count(_.kind == k).toDouble) ++
      Trace.Layers.map(l => s"self.${l}_s" -> w.self.getOrElse(l, 0.0))
  }

  /** Fill `out.perLayer` with every metric: per-window medians over
    * `windows`, the lookup metrics over `lookups`, then `extra`.
    */
  def report(out: Outcome, windows: scala.collection.Seq[Trace.Window], source: String, quarantine: String,
      lookups: scala.collection.Seq[Trace.Window] = Nil, extra: Map[String, Double]): Unit = {
    require(windows.nonEmpty, "no traced operation to reduce")
    val per = windows.map(values(_, source, quarantine))
    val lookup = Map(
      "sink.manifest_reads" -> median(lookups.map(_.fs.count(o =>
        !o.executor && o.kind == "open" && o.path.contains("/_meta/")).toDouble)),
      "sink.lookup_s" -> median(lookups.map(_.wallS)))
    Units.foreach { case (name, unit) =>
      val v = extra.get(name).orElse(lookup.get(name).filter(_ => lookups.nonEmpty))
        .getOrElse(median(per.flatMap(_.get(name))))
      out.perLayer(name) = (v, unit)
    }
    out.detail("traced_windows") = windows.size
  }
}
