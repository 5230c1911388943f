package jobbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A benchmark span: a job call, epoch, lookup or cycle.
  * Top-level spans (parent 0) are the workload's operations; the
  * per-layer metrics are computed per top-level span.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: Spark jobs, stages and tasks, SQL
  * execution call sites, filesystem calls
  * ([[FsTrace]]) and the benchmark's own spans — kept in memory and
  * reduced to per-layer metrics when the run ends. Nothing here is
  * installed in an untraced run; `on` switches recording per operation
  * so one traced run also measures its own overhead.
  */
object Trace {
  @volatile var on: Boolean = false

  /** graft.sink.ShardedTable.commit -> sink; top-level graft objects -> graft. */
  def packageOf(frame: String): String = {
    val seg = frame.split('.')
    if (seg.length > 2 && seg(1).headOption.exists(_.isLower)) seg(1) else "graft"
  }

  /** The innermost program frame of a stack (innermost first), or "". */
  def innermost(frames: Seq[String]): String = frames.find(_.startsWith("graft.")).getOrElse("")

  /** The layer of a stack: its innermost program package; else `bench`
    * when only the benchmark is on it; else `spark`.
    */
  def layerOf(frames: Seq[String]): String = {
    val f = innermost(frames)
    if (f.nonEmpty) packageOf(f) else if (frames.nonEmpty) "bench" else "spark"
  }

  // --- spans -------------------------------------------------------------
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val parentOf = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Time `body` as a span under the current one. Spans are recorded in
    * every run (they are a few clock reads); `attrs` receives facts the
    * body learns (rows, touched shards) for the per-layer ratios.
    */
  def span[T](name: String)(body: mutable.Map[String, Double] => T): (T, Span) = {
    val id = nextId.incrementAndGet()
    val parent = parentOf.get
    parentOf.set(id)
    val attrs = mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    try {
      val r = body(attrs)
      val s = Span(id, parent, name, t0, System.nanoTime(), attrs.toMap)
      if (on) spans.add(s)
      (r, s)
    } finally parentOf.set(parent)
  }

  // --- Spark events ----------------------------------------------------------
  final case class JobRec(id: Int, startNs: Long, var endNs: Long, execId: Long,
      stageIds: Seq[Int])
  final case class StageRec(id: Int, details: String, var tasks: Int)
  final case class TaskRec(stageId: Int, durMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      recordsRead: Long, bytesWritten: Long, recordsWritten: Long)
  final case class ExecRec(details: String, plan: String)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val execs = mutable.HashMap.empty[Long, ExecRec]
  // listener times are epoch millis; spans and FS calls are nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, fromEpochMs(e.time), Long.MaxValue, exec, e.stageIds)
      e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId,
        StageRec(s.stageId, s.details, 0)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endNs = fromEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (stages.contains(e.stageId)) {
        stages(e.stageId).tasks += 1
        val m = e.taskMetrics
        if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execs(s.executionId) = ExecRec(s.details, s.physicalPlanDescription)
      }
      case _ =>
    }
  }

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(Listener)

  // --- reduction -----------------------------------------------------------
  /** Call-site frames of a Spark job: the SQL execution's call site
    * when it has one, else the first stage's. Innermost first.
    */
  private def jobFrames(j: JobRec): Vector[String] = {
    val site = execs.get(j.execId).map(_.details)
      .orElse(j.stageIds.sorted.headOption.flatMap(stages.get).map(_.details))
      .getOrElse("")
    site.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") || l.startsWith("jobbench."))
      .map(l => l.takeWhile(_ != '(')).toVector
  }
  /** Layers reported as self time. Program packages outside this list
    * (functions, plans, metrics, top-level graft objects) are `other`.
    */
  val Layers = Seq("runner", "state", "sources", "operators", "quality", "sink",
    "streaming", "spark", "bench", "other")
  private def reported(layer: String): String = if (Layers.contains(layer)) layer else "other"

  /** The facts of one operation window, from which every per-layer
    * metric of that window is derived.
    */
  final class Window(val span: Span, val jobs: Seq[(JobRec, Vector[String], String)],
      val stages: Seq[StageRec], val tasks: Seq[TaskRec], val fs: Seq[FsOp],
      val self: Map[String, Double], val jobBusyS: Double, val fsDriverS: Double,
      val driverSelfS: Double) {
    def wallS: Double = span.wallS
    def jobTimeS(pred: ((JobRec, Vector[String], String)) => Boolean): Double =
      jobs.filter(pred).map { case (j, _, _) =>
        (math.min(j.endNs, span.endNs) - math.max(j.startNs, span.startNs)).max(0L)
      }.sum / 1e9
    def fsTimeS(pred: FsOp => Boolean): Double =
      fs.filter(o => !o.executor && pred(o)).map(o => o.endNs - o.startNs).sum / 1e9
    def plan(j: JobRec): String = execs.get(j.execId).map(_.plan).getOrElse("")
  }

  /** A top-level span the benchmark did not time itself: a streaming
    * trigger, from its progress report's start (epoch millis) and
    * duration.
    */
  def spanAt(name: String, startEpochMs: Long, durMs: Long, attrs: Map[String, Double]): Span = {
    val s = Span(nextId.incrementAndGet(), 0, name, fromEpochMs(startEpochMs),
      fromEpochMs(startEpochMs + durMs), attrs)
    spans.add(s)
    s
  }

  /** Split a window's wall time: an instant inside a Spark job belongs
    * to the job's call-site layer; outside jobs, an instant inside a
    * driver filesystem call belongs to the call's stack layer; the
    * rest is driver self time. In a streaming trigger, every instant
    * outside `inner` (the benchmark's foreachBatch) belongs to
    * `streaming`: the engine's offset, listing, planning and commit
    * work. The parts sum to the wall time.
    */
  def window(s: Span, inner: Option[Span] = None): Window = synchronized {
    val js = jobs.values.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)
      .toSeq.map { j => val f = jobFrames(j); (j, f, reported(layerOf(f))) }
    val st = js.flatMap(_._1.stageIds).distinct.flatMap(stages.get)
    val stIds = st.map(_.id).toSet
    val ts = tasks.filter(t => stIds.contains(t.stageId)).toSeq
    val fs = FsTrace.ops.asScala.filter(o => o.startNs >= s.startNs && o.startNs <= s.endNs).toSeq
    def clip(a: Long, b: Long) = (math.max(a, s.startNs), math.min(b, s.endNs))
    val jobIv = js.map { case (j, _, l) =>
      val (a, b) = clip(j.startNs, if (j.endNs == Long.MaxValue) s.endNs else j.endNs)
      (a, b, l) }.filter(x => x._2 > x._1)
    val fsIv = fs.filter(!_.executor).map { o =>
      val (a, b) = clip(o.startNs, o.endNs); (a, b, reported(o.layer)) }.filter(x => x._2 > x._1)
    val innerCuts = inner.toSeq.flatMap(i => Seq(i.startNs, i.endNs))
      .filter(t => t > s.startNs && t < s.endNs)
    def engine(t: Long) = inner.exists(i => t < i.startNs || t >= i.endNs)
    val cuts = (Seq(s.startNs, s.endNs) ++ jobIv.flatMap(x => Seq(x._1, x._2)) ++
      fsIv.flatMap(x => Seq(x._1, x._2)) ++ innerCuts).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var jobBusy, fsDriver, driver = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val d = (b - a) / 1e9
        val mid = a + (b - a) / 2
        val activeJob = jobIv.filter(x => x._1 <= mid && mid < x._2).sortBy(-_._1).headOption
        lazy val activeFs = fsIv.filter(x => x._1 <= mid && mid < x._2).sortBy(-_._1).headOption
        val byEngine = engine(mid)
        def layer(l: String) = if (byEngine) "streaming" else l
        activeJob match {
          case Some((_, _, l)) => self(layer(l)) += d; jobBusy += d
          case None => activeFs match {
            case Some((_, _, l)) => self(layer(l)) += d; fsDriver += d
            case None => if (byEngine) self("streaming") += d else driver += d
          }
        }
      case _ =>
    }
    val w = new Window(s, js, st, ts, fs, self.toMap, jobBusy, fsDriver, driver)
    val gap = math.abs(self.values.sum + driver - w.wallS)
    require(gap < 1e-6, f"layer self times miss ${s.name}'s wall by $gap%.9f s")
    w
  }

  /** Drain Spark's listener bus so every event of the run is recorded. */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Write the raw spans and per-window decomposition as JSON lines. */
  def dump(path: java.nio.file.Path, windows: scala.collection.Seq[Window]): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)
    } ++ windows.map { w =>
      Json.obj("window" -> w.span.name, "id" -> w.span.id, "wall_s" -> w.wallS,
        "self_s" -> w.self, "driver_self_s" -> w.driverSelfS,
        "stages" -> w.stages.count(_.tasks > 0), "tasks" -> w.tasks.size,
        "fs_ops" -> w.fs.groupBy(_.kind).map { case (k, ops) => k -> ops.size },
        "jobs" -> w.jobs.map { case (j, f, l) =>
          Json.obj("job" -> j.id, "layer" -> l, "site" -> f.headOption.getOrElse(""),
            "s" -> (j.endNs - j.startNs) / 1e9) })
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.map(Json.render).mkString("", "\n", "\n"))
  }
}
