package jobbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.runner.JobConfig
import graft.sink.ShardedTable
import graft.streaming.StreamingIngest

/** The workloads. Each times only calls into the program's public
  * entry points, checks every result against a reference it computes
  * itself with plain Spark SQL (or from the generator), and reports its
  * end-to-end metrics; in a traced run every other operation is traced
  * and the traced ones are reduced to per-layer metrics.
  */
object Workloads {
  import Bench._

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap pools' peak usage since the last reset, in MiB. */
  private def heapPeakMb(reset: Boolean): Double = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    if (reset) { pools.foreach(_.resetPeakUsage()); 0.0 }
    else pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** How many operations a run times: as many as fit in `--seconds` at
    * the seed commit's nominal cost per operation, at least one (two in
    * a traced run, which alternates traced and untraced ones). A fixed
    * count, not a deadline: a deadline lets a fast run time more, later
    * and therefore warmer operations than a slow one, which widens the
    * spread between runs; with a count a slower program takes longer
    * instead of timing fewer operations.
    */
  private def planned(o: Opts, nominalS: Double): Int =
    math.max(if (o.trace) 2 else 1, math.round(o.seconds / nominalS).toInt)

  /** Seed-commit cost of one batch_load cycle (ingest, compact, checks). */
  val NominalCycleS = 6.0

  /** Seed-commit cost of one cdc_epochs epoch with its three lookups. */
  val NominalEpochS = 2.2

  // --- batch_load -----------------------------------------------------------

  /** Checksum of a compacted events frame: row count, a modular sum and
    * an xor of a per-row hash. Equal checksums mean equal row multisets
    * for all practical purposes.
    */
  private def checksum(df: DataFrame): Seq[Long] = {
    val r = df.selectExpr("xxhash64(event_id, user_id, event_type, value, rev, " +
        "cast(date_key as string)) as h")
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))), bit_xor(col("h")))
      .head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def batchLoad(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    val root = o.work.resolve("batch")
    val input = root.resolve("in").toString
    val base = if (o.tiny) 20000L else 700000L
    val warmInput = root.resolve("warm").toString
    Gen.events(spark, o.seed, base, input)
    Gen.events(spark, o.seed + 1, base / 4, warmInput)
    phase("generated")

    // the reference, in plain Spark SQL over the generated input
    val src = spark.read.parquet(input)
    val policyOk = "value IS NOT NULL AND value >= 0"
    val counts = src.selectExpr("count(*)",
      s"count_if(event_type <> 'error' AND $policyOk)",
      s"count_if(event_type <> 'error' AND NOT ($policyOk))").head()
    val inputRows = counts.getLong(0)
    val expWritten = counts.getLong(1) + (if (o.corrupt) 1 else 0)
    val expQuarantined = counts.getLong(2)
    val latest = src.where(s"event_type <> 'error' AND $policyOk")
      .selectExpr("*", "date_format(ts, 'yyyy-MM-dd') as date_key",
        "row_number() over (partition by event_id order by rev desc) as rn")
      .where("rn = 1")
    val expCompact = { val c = checksum(latest); if (o.corrupt) c.updated(0, c.head + 1) else c }
    phase("reference computed")

    def cycle(i: Int, from: String, checked: Boolean): Option[(Double, Double, Span)] = {
      val dir = root.resolve(s"cycle-$i")
      def at(name: String) = dir.resolve(name).toString
      val ingest = props(
        "job.name" -> "events_load", "source.format" -> "parquet", "source.path" -> from,
        "source.watermark.expr" -> "unix_micros(cast(ts as timestamp))",
        "ops" -> "sqlExpr,timePartition,filter,pick",
        "op.sqlExpr.exprs" -> "event_id;ts;user_id;event_type;value;rev;wm",
        "op.timePartition.column" -> "ts",
        "op.filter.predicate" -> "event_type <> 'error'",
        "op.pick.fields" -> "event_id,user_id,event_type,value,rev,wm,date_key",
        "policy.row.value_ok.predicate" -> policyOk,
        "policy.row.value_ok.type" -> "ERR_FILE", "policy.task.min.rows" -> "0",
        "sink.staging" -> at("staging"), "sink.output" -> at("out"),
        "sink.partitionBy" -> "date_key", "state.dir" -> at("state"),
        "quarantine.dir" -> at("quarantine"))
      val compact = props(
        "job.type" -> "compact", "source.path" -> at("out"), "compact.keys" -> "event_id",
        "compact.delta" -> "rev", "compact.min.rows" -> "1",
        "sink.staging" -> at("cstaging"), "sink.output" -> at("cout"))
      val (res, span) = Trace.span("cycle") { a =>
        val (ing, si) = Trace.span("ingest")(_ => JobConfig.runAny(spark, ingest))
        val (cmp, sc) = Trace.span("compact")(_ => JobConfig.runAny(spark, compact))
        a("input_rows") = inputRows.toDouble
        a("delta_rows") = inputRows.toDouble
        a("quarantined") = ing.get("quarantined").map(_.toDouble).getOrElse(0.0)
        (ing, si, cmp, sc)
      }
      val (ing, si, cmp, sc) = res
      val ok = if (!checked) true else {
        val a = out.attempt(s"ingest cycle $i")(ing) { r =>
          if (r.get("published").contains("true") &&
            r.get("rowsWritten").contains(expWritten.toString) &&
            r.get("quarantined").contains(expQuarantined.toString)) None
          else Some(s"got $r, expected rowsWritten=$expWritten quarantined=$expQuarantined")
        }
        val c = out.attempt(s"compact cycle $i")(cmp) { r =>
          lazy val got = checksum(spark.read.parquet(at("cout")))
          if (!r.get("published").contains("true")) Some(s"not published: $r")
          else if (got != expCompact) Some(s"checksum $got, expected $expCompact")
          else None
        }
        a.isDefined && c.isDefined
      }
      deleteTree(dir)
      if (ok) Some((si.wallS, sc.wallS, span)) else None
    }

    // warm-up: the first two cycles of a JVM run up to 40% slow; they
    // run on a quarter of the input, which compiles the same code
    (-1 to 0).foreach(cycle(_, warmInput, checked = false))
    phase("warmed up")
    val gcStart = gcSeconds
    heapPeakMb(reset = true)
    val done = mutable.ArrayBuffer.empty[(Double, Double, Span, Boolean)]
    (1 to planned(o, NominalCycleS)).foreach { i =>
      val traced = o.trace && i % 2 == 1
      Trace.on = traced
      cycle(i, input, checked = true).foreach { case (a, b, s) => done += ((a, b, s, traced)) }
      Trace.on = false
    }
    val untraced = done.filterNot(_._4)
    val ingestS = untraced.map(_._1)
    val compactS = untraced.map(_._2)
    // a run whose checks failed reports its verdict without metrics
    if (untraced.isEmpty || o.trace && untraced.size == done.size) return
    if (!o.trace) {
      out.endToEnd("main_p50_s") = (median(ingestS), "s")
      out.endToEnd("rows_per_s") = (median(untraced.map(c => inputRows / c._3.wallS)), "1/s")
      out.endToEnd("follow_p50_s") = (median(compactS), "s")
    }
    out.detail("cycles") = done.size
    out.detail("ingest_walls_s") = ingestS.map(w => math.rint(w * 1000) / 1000)
    out.detail("compact_walls_s") = compactS.map(w => math.rint(w * 1000) / 1000)
    out.detail("input_rows") = inputRows
    out.detail("ingest_rows_per_s") = median(ingestS.map(inputRows / _))
    out.detail("compact_rows_per_s") = median(compactS.map(s => expWritten / s))
    if (o.trace) {
      Trace.drain(spark)
      val traced = done.filter(_._4).map(_._3)
      val ws = traced.map(Trace.window(_))
      Layers.report(out, ws, source = input, quarantine = "/quarantine",
        extra = Map(
          "jvm.heap_peak_mb" -> heapPeakMb(reset = false),
          "jvm.gc_s" -> (gcSeconds - gcStart) / done.size,
          "trace.overhead" -> median(traced.map(_.wallS)) / median(untraced.map(_._3.wallS))))
      Trace.dump(o.work.getParent.resolve(s"trace-batch_load-${o.seed}.jsonl"), ws)
    }
  }

  // --- cdc_epochs -----------------------------------------------------------

  private def scd2Props(root: Path): java.util.Properties = props(
    "job.type" -> "scd2", "job.name" -> "customer_dim",
    "source.path" -> root.resolve("src").toString,
    "scd2.key" -> "custkey", "scd2.seq" -> "seq", "scd2.op" -> "op",
    "scd2.attrs" -> "price", "scd2.shards" -> Gen.Shards.toString,
    "sink.staging" -> root.resolve("staging").toString,
    "sink.output" -> root.resolve("dim").toString,
    "state.dir" -> root.resolve("state").toString)

  /** Final check of an SCD2 dimension: its current rows equal the
    * reference rebuild of every changelog row the program was given.
    */
  private def checkDimension(spark: SparkSession, dim: ShardedTable,
      changes: DataFrame, corrupt: Boolean): Option[String] = {
    val want0 = Gen.currentRows(changes)
    val want = if (corrupt) want0.orderBy("custkey").offset(1) else want0
    val got = dim.readCurrent(spark).where("is_current")
      .select("custkey", "price", "valid_from")
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (missing == 0 && extra == 0) None
    else Some(s"current rows differ from the changelog rebuild: $missing missing, $extra extra")
  }

  /** Changelog rows per cdc_epochs delta: fixed, so rows per second
    * measures epoch cost, not the luck of the draw.
    */
  val DeltaRows = 300

  def cdcEpochs(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    val root = o.work.resolve("cdc")
    val src = root.resolve("src")
    val staged = root.resolve("deltas")
    Seq(src, staged).foreach(Files.createDirectories(_))
    val cycle = Gen.KeySpread.size
    val warm = if (o.tiny) 1 else cycle
    val timedEpochs = cycle * planned(o, cycle * NominalEpochS)
    val bootRows = if (o.tiny) 5000 else Gen.BootstrapRows
    Gen.writeBootstrap(spark, o.seed, bootRows, src.resolve("boot.parquet"))
    val deltas = Gen.deltas(o.seed, warm + timedEpochs, if (o.tiny) 30 else DeltaRows)
    Gen.writeFiles(spark, deltas, staged, i => f"delta-${i + 1}%05d.parquet")
    phase("generated")
    // a lookup's key is one its own delta wrote last, so the bootstrap
    // never decides an expected lookup result
    val latest = mutable.HashMap.empty[Long, Gen.Change]
    val props = scd2Props(root)
    val dimRoot = root.resolve("dim").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    // the generator's shard function must be the job's
    val someKey = deltas.head.head.custkey
    val probe = spark.range(1).select(pmod(hash(lit(someKey)), lit(Gen.Shards))).head().getInt(0)
    require(probe == Gen.shardOf(someKey), "shard function mismatch")

    // a corrupted run falsifies every expectation, so every check fails
    val bias = if (o.corrupt) 1 else 0
    out.attempt("bootstrap epoch")(JobConfig.runAny(spark, props)) { r =>
      val want = bootRows + bias
      if (r.get("published").contains("true") && r.get("deltaRows").contains(want.toString)) None
      else Some(s"got $r, expected deltaRows=$want")
    }

    final case class Epoch(wall: Double, rows: Int, span: Span, lookups: Seq[Span],
        traced: Boolean)
    def epoch(i: Int, traced: Boolean): Option[Epoch] = {
      val d = deltas(i)
      val name = f"delta-${i + 1}%05d.parquet"
      Trace.on = traced
      val (res, span) = Trace.span("epoch") { a =>
        Files.move(staged.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        a("delta_rows") = d.size.toDouble
        val r = JobConfig.runAny(spark, props)
        a("touched") = r.get("touchedPartitions").map(_.toDouble).getOrElse(0.0)
        r
      }
      d.foreach(c => latest(c.custkey) = c)
      val touched = d.map(c => Gen.shardOf(c.custkey)).distinct.size + bias
      val ok = out.attempt(s"epoch ${i + 1}")(res) { r =>
        if (r.get("published").contains("true") &&
          r.get("deltaRows").contains((d.size + bias).toString) &&
          r.get("touchedPartitions").contains(touched.toString)) None
        else Some(s"got $r, expected deltaRows=${d.size + bias} touchedPartitions=$touched")
      }
      // point lookups of keys this epoch touched (its first, middle and
      // last row's), each by a fresh reader
      val keys = Seq(d.head, d(d.size / 2), d.last).map(_.custkey).distinct
      val lookups = keys.map { key =>
        val truth = latest.get(key).filter(_.op == "U").map(c => (c.price, c.seq))
        val expect = if (!o.corrupt) truth
          else truth.map { case (p, q) => (p + 1, q) }.orElse(Some((0.0, -1L)))
        val (rows, lspan) = Trace.span("lookup") { _ =>
          new ShardedTable(dimRoot, "shard", hconf)
            .readPartitions(spark, Seq(Gen.shardOf(key).toString))
            .where(col("custkey") === key && col("is_current"))
            .select("price", "valid_from").collect().toSeq
        }
        out.attempt(s"lookup ${i + 1} of $key")(rows) { r =>
          val got = r.map(x => (x.getDouble(0), x.getLong(1)))
          if (got == expect.toSeq) None else Some(s"got $got, expected $expect")
        }.map(_ => lspan)
      }
      Trace.on = false
      if (ok.isDefined && lookups.forall(_.isDefined))
        Some(Epoch(span.wallS, d.size, span, lookups.flatten, traced))
      else None
    }

    phase("bootstrapped")
    (0 until warm).foreach(i => epoch(i, traced = false))
    phase("warmed up")
    val gcStart = gcSeconds
    heapPeakMb(reset = true)
    // whole cycles of Gen.KeySpread, so every run times the same mix of
    // epoch sizes; a traced run alternates traced and untraced cycles
    val done = mutable.ArrayBuffer.empty[Epoch]
    (0 until timedEpochs).foreach { t =>
      epoch(warm + t, traced = o.trace && (t / cycle) % 2 == 0).foreach(done += _)
    }
    phase("measured")
    out.attempt("final dimension check")(()) { _ =>
      checkDimension(spark, new ShardedTable(dimRoot, "shard", hconf),
        spark.read.parquet(src.toString), o.corrupt)
    }

    val untraced = done.filterNot(_.traced)
    if (untraced.nonEmpty) {
      val walls = untraced.map(_.wall)
      if (!o.trace) {
        out.endToEnd("main_p50_s") = (median(walls), "s")
        out.endToEnd("rows_per_s") = (untraced.map(_.rows).sum / walls.sum, "1/s")
        out.endToEnd("follow_p50_s") = (median(untraced.flatMap(_.lookups.map(_.wallS))), "s")
      }
      out.detail("epochs") = walls.size
      out.detail("epoch_walls_s") = walls.map(w => math.rint(w * 1000) / 1000)
      out.detail("epoch_touched") = untraced.map(_.span.attrs.getOrElse("touched", 0.0).toInt)
      out.detail("epoch_p50_s") = median(walls)
      tail(walls) match {
        case Some((p, v)) => out.detail("epoch_tail_s") = v; out.detail("epoch_tail_pct") = p
        case None => out.detail("epoch_tail_s") =
          s"n/a: ${walls.size} samples; a tail above p50 with 10 beyond needs 20"
      }
      out.detail("lookup_p50_s") = median(untraced.flatMap(_.lookups.map(_.wallS)))
    }
    if (o.trace && untraced.nonEmpty && done.exists(_.traced)) {
      Trace.drain(spark)
      val traced = done.filter(_.traced).take(Layers.DeterministicWindows)
      val ws = traced.map(e => Trace.window(e.span))
      val lookups = traced.flatMap(_.lookups).map(Trace.window(_))
      Layers.report(out, ws, source = src.toString, quarantine = "", lookups = lookups,
        extra = Map(
          "jvm.heap_peak_mb" -> heapPeakMb(reset = false),
          "jvm.gc_s" -> (gcSeconds - gcStart) / done.size,
          "trace.overhead" -> median(done.filter(_.traced).map(_.wall)) /
            median(untraced.map(_.wall))))
      Trace.dump(o.work.getParent.resolve(s"trace-cdc_epochs-${o.seed}.jsonl"), ws ++ lookups)
    }
  }

  // --- stream_scd2 ----------------------------------------------------------

  /** The offered load of stream_scd2: one changelog file of
    * [[StreamFileRows]] rows lands every 1 / StreamFilesPerS seconds,
    * whatever the system's speed.
    */
  val StreamFilesPerS = 1.0
  val StreamFileRows = 200
  /** The query's processing-time trigger interval. Spark fires it at
    * wall-clock multiples of the interval, and the generator lands
    * files on the same grid, so every run sees the same batches
    * (four files each) and the same waits for the trigger. The seed
    * commit's batches take about 2.5 s, inside the interval: it keeps up,
    * and a slower batch shows as freshness, not as a shifted batching.
    */
  val StreamTriggerMs = 4000L
  /** Seconds of untimed arrivals before the measured ones: two trigger
    * intervals' worth, the first landed before the query starts.
    */
  val StreamWarmS = 8

  private def streamFile(id: Int) = f"f-$id%05d.parquet"

  def streamScd2(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    val root = o.work.resolve("stream")
    val (staged, watched, bootDir) = (root.resolve("staged"), root.resolve("in"),
      root.resolve("boot"))
    Seq(staged, watched, bootDir).foreach(Files.createDirectories(_))
    val warm = if (o.tiny) 2 else (StreamWarmS * StreamFilesPerS).toInt
    val measured = math.max(6, (o.seconds * StreamFilesPerS).toInt)
    val n = warm + measured
    // a traced run traces the files after `tracedFrom`: about the second
    // half of the timed ones, in whole batches
    val perBatch = (StreamTriggerMs / 1000.0 * StreamFilesPerS).toInt
    val tracedFrom =
      if (o.trace) warm + math.max(perBatch, measured / 2 / perBatch * perBatch) else n
    Gen.writeBootstrap(spark, o.seed, if (o.tiny) 5000 else Gen.BootstrapRows,
      bootDir.resolve("boot.parquet"))
    // file id k (1-based) holds delta k, whose seqs are k * 1e6 + row
    val files = Gen.deltas(o.seed, n, if (o.tiny) 30 else StreamFileRows)
    Gen.writeFiles(spark, files, staged, i => streamFile(i + 1))
    phase("generated")

    val key = "custkey"
    val shardOf = pmod(hash(col(key)), lit(Gen.Shards)).cast("int")
    val table = new ShardedTable(root.resolve("dim").toString, "shard",
      spark.sparkContext.hadoopConfiguration)
    table.commit(Scd2.fromChangelog(spark.read.parquet(bootDir.toString), key, "seq", "op",
      Seq("price")).withColumn("shard", shardOf), (0 until Gen.Shards).map(_.toString))
    phase("bootstrapped")

    // the benchmark-owned foreachBatch: merge the micro-batch into the
    // touched shards of the long-lived dimension (the q_stream_scd2 shape)
    final case class Batch(id: Long, files: Seq[Int], rows: Long, touched: Seq[Int], span: Span)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val sc = spark.sparkContext
    def mergeBatch(delta: DataFrame, id: Long): Unit = {
      // the stream pins every job's call site to the query's start();
      // unpinned, jobs name their own call sites, and so their layers
      val pinned = Seq("callSite.short", "callSite.long").map(k => k -> sc.getLocalProperty(k))
      sc.clearCallSite()
      val (facts, span) = try Trace.span("batch") { _ =>
        val facts = delta.groupBy(shardOf.as("shard"), expr("seq div 1000000").as("file"))
          .count().collect().toSeq
        val touched = facts.map(_.getInt(0)).distinct.sorted
        if (touched.nonEmpty) {
          val dim = table.readPartitions(spark, touched.map(_.toString)).drop("shard")
          table.commit(Scd2.merge(dim, delta, key, "seq", "op", Seq("price"))
            .withColumn("shard", shardOf), touched.map(_.toString))
        }
        facts
      } finally pinned.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      batches.add(Batch(id, facts.map(_.getLong(1).toInt).distinct.sorted,
        facts.map(_.getLong(2)).sum, facts.map(_.getInt(0)).distinct.sorted, span))
    }
    val dueNs, landedNs = new Array[Long](n + 1)
    def land(k: Int): Unit = {
      Files.move(staged.resolve(streamFile(k)), watched.resolve(streamFile(k)),
        StandardCopyOption.ATOMIC_MOVE)
      landedNs(k) = System.nanoTime()
    }
    def drain(query: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try query.processAllAvailable()
      catch { case e: Exception => out.fail(s"stream query failed: ${e.getMessage}") }
    // the first trigger interval's files land before the query starts,
    // so the JVM's first, slow batch runs before the schedule does
    val early = warm / 2
    (1 to early).foreach { k => land(k); dueNs(k) = landedNs(k) }
    val query = StreamingIngest.readFileStream(spark, Gen.ChangeSchema, watched.toString)
      .writeStream.foreachBatch { (delta: DataFrame, id: Long) => mergeBatch(delta, id) }
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(StreamTriggerMs))
      .start()
    drain(query)

    // the generator: lands each later file at its due time, open loop;
    // the first is due half a file interval into a trigger interval
    var tracedFromNs = Long.MaxValue
    val gen = new Thread(() => {
      val grid = (System.currentTimeMillis() / StreamTriggerMs + 1) * StreamTriggerMs
      val t0 = Trace.fromEpochMs(grid) + (0.5e9 / StreamFilesPerS).toLong
      (early + 1 to n).foreach { k =>
        dueNs(k) = t0 + ((k - early - 1) / StreamFilesPerS * 1e9).toLong
        val wait = dueNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        // switched on as the first traced batch's last file lands: the
        // batch before it has ended, and that trigger has not started
        if (o.trace && k == math.min(n, tracedFrom + perBatch)) {
          tracedFromNs = System.nanoTime(); Trace.on = true }
        land(k)
      }
    }, "jobbench-file-generator")
    val gcStart = gcSeconds
    heapPeakMb(reset = true)
    gen.start()
    gen.join()
    // every file has landed: wait until the query has committed them all
    drain(query)
    Trace.on = false
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    query.stop()
    phase("streamed")

    // one operation per landed file: its batch committed it, with the
    // generator's row count and touched shards for the batch's files
    val all = batches.asScala.toSeq.sortBy(_.id)
    val batchOf = all.flatMap(b => b.files.map(_ -> b)).toMap
    val bias = if (o.corrupt) 1 else 0
    val fresh = mutable.ArrayBuffer.empty[(Int, Double)]
    (1 to n).foreach { k =>
      out.attempt(s"file $k")(batchOf.get(k)) {
        case None => Some("never committed")
        case Some(b) =>
          val want = b.files.map(f => files(f - 1).size).sum + bias
          val shards = b.files.flatMap(f => files(f - 1).map(c => Gen.shardOf(c.custkey)))
            .distinct.sorted
          if (b.rows == want && b.touched == shards) None
          else Some(s"batch ${b.id} committed ${b.rows} rows in shards ${b.touched}, " +
            s"expected $want rows in $shards")
      }.flatten.foreach(b => fresh += ((k, secs(b.span.endNs - dueNs(k)))))
    }
    out.attempt("final dimension check")(()) { _ =>
      checkDimension(spark, table, spark.read.parquet(bootDir.toString, watched.toString),
        o.corrupt)
    }

    val timed = fresh.filter { case (k, _) => k > warm && k <= tracedFrom }.map(_._2)
    if (timed.isEmpty) return
    val timedIds = fresh.map(_._1).filter(k => k > warm && k <= tracedFrom).toSet
    val timedBatches = all.filter(_.files.exists(timedIds.contains)).map(_.id).toSet
    val triggerS = progress.filter(p => timedBatches.contains(p.batchId))
      .map(_.durationMs.get("triggerExecution").toDouble / 1000)
    val lastCommit = all.filter(b => timedBatches.contains(b.id)).map(_.span.endNs).max
    val rowsPerS = timedIds.toSeq.map(k => files(k - 1).size).sum /
      secs(lastCommit - dueNs(timedIds.min))
    if (!o.trace) {
      out.endToEnd("main_p50_s") = (median(timed), "s")
      out.endToEnd("follow_p50_s") = (median(triggerS), "s")
      out.endToEnd("rows_per_s") = (rowsPerS, "1/s")
    }
    out.detail("offered_files_per_s") = StreamFilesPerS
    out.detail("offered_rows_per_s") = StreamFilesPerS * StreamFileRows
    out.detail("files") = timed.size
    out.detail("batches") = timedBatches.size
    out.detail("freshness_s") = timed.map(w => math.rint(w * 1000) / 1000)
    out.detail("freshness_p50_s") = median(timed)
    tail(timed) match {
      case Some((p, v)) => out.detail("freshness_tail_s") = v; out.detail("freshness_tail_pct") = p
      case None => out.detail("freshness_tail_s") =
        s"n/a: ${timed.size} samples; a tail above p50 with 10 beyond needs 20"
    }
    out.detail("stream_rows_per_s") = rowsPerS
    out.detail("trigger_p50_s") = median(triggerS)
    out.detail("gen_late_p50_s") = median((warm + 1 to n).map(k => secs(landedNs(k) - dueNs(k))))

    if (o.trace && fresh.exists(_._1 > tracedFrom)) {
      Trace.drain(spark)
      val byId = all.map(b => b.id -> b).toMap
      // one window per traced trigger, from its progress report; the
      // foreachBatch span inside it is the benchmark's, the rest the engine's
      val ws = progress.toSeq.flatMap { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val startNs = Trace.fromEpochMs(startMs)
        byId.get(p.batchId).filter(_ => startNs >= tracedFromNs).map { b =>
          def s(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3
          val landed = (1 to n).count(k => landedNs(k) < startNs)
          val committed = all.filter(_.span.endNs < startNs).map(_.files.size).sum
          val attrs = Map("delta_rows" -> b.rows.toDouble, "touched" -> b.touched.size.toDouble,
            "files" -> b.files.size.toDouble, "backlog" -> (landed - committed).toDouble,
            "trigger_s" -> s("triggerExecution"), "add_batch_s" -> s("addBatch"),
            "latest_offset_s" -> s("latestOffset"), "wal_commit_s" -> s("walCommit"),
            "commit_offsets_s" -> s("commitOffsets"), "query_planning_s" -> s("queryPlanning"))
          Trace.window(Trace.spanAt("trigger", startMs,
            p.durationMs.get("triggerExecution").longValue, attrs), Some(b.span))
        }
      }
      Layers.report(out, ws, source = watched.toString, quarantine = "",
        extra = Map(
          "jvm.heap_peak_mb" -> heapPeakMb(reset = false),
          "jvm.gc_s" -> (gcSeconds - gcStart) / all.size,
          "streaming.gen_late_s" -> median((tracedFrom + 1 to n).map(k =>
            secs(landedNs(k) - dueNs(k)))),
          "trace.overhead" -> median(ws.map(_.span.attrs("trigger_s"))) / median(triggerS)))
      Trace.dump(o.work.getParent.resolve(s"trace-stream_scd2-${o.seed}.jsonl"), ws)
    }
  }
}
