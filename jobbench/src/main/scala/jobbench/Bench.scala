package jobbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options. `size` is `full` for measurement and `tiny`
  * for the self-test; `corrupt` deliberately falsifies the expected
  * results so the self-test can prove that the checks fail.
  */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, launchedMs: Long, tiny: Boolean, corrupt: Boolean)

/** Outcome of one workload run: the counts of attempted and failed
  * operations, the gated end-to-end metrics, the named
  * per-workload detail metrics, and (traced runs) the per-layer ones.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Run one operation; it fails if it throws or its check returns a problem. */
  def attempt[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val r = body
      check(r) match {
        case None => Some(r)
        case Some(p) => fail(s"$what: $p"); None
      }
    } catch {
      case e: Exception => fail(s"$what threw ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  def fail(problem: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += problem
    System.err.println(s"[jobbench] FAILED $problem")
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o)
    val setupS = (System.currentTimeMillis() - o.launchedMs) / 1000.0
    if (o.trace) Trace.install(spark)
    val out = new Outcome
    try {
      o.workload match {
        case "batch_load" => Workloads.batchLoad(spark, o, out)
        case "cdc_epochs" => Workloads.cdcEpochs(spark, o, out)
        case "stream_scd2" => Workloads.streamScd2(spark, o, out)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
    } catch {
      case e: Exception =>
        out.fail(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    spark.stop()
    val correct = out.failed == 0 && out.attempted > 0
    out.endToEnd("setup_s") = (setupS, "s")
    out.detail("setup_s") = setupS
    out.detail("ops_attempted") = out.attempted
    out.detail("ops_failed") = out.failed
    out.detail("ops_failed_ratio") = out.failed.toDouble / math.max(1, out.attempted)
    println(Json.render(Json.obj("workload" -> o.workload, "seed" -> o.seed,
      "traced" -> o.trace, "detail" -> out.detail, "problems" -> out.problems)))
    val metrics = (if (o.trace) out.perLayer else out.endToEnd).map {
      case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      need("launched-ms").toLong, m.get("size").contains("tiny"),
      m.get("corrupt").contains("1"))
  }

  /** The program's own session recipe (local[cores], shuffle partitions
    * = cores, the program's session configs), with every scratch path
    * inside the run's work directory. The traced run swaps in the
    * counting filesystem for both Hadoop filesystem APIs.
    */
  def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cpus]").appName("jobbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    if (o.trace) b
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def props(kv: (String, String)*): Properties = {
    val p = new Properties()
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None when that percentile would not lie above
    * the median (fewer than 20 samples).
    */
  def tail(xs: scala.collection.Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val k = s.size - 10 // 1-based rank with exactly ten samples beyond
      Some((100 * k / s.size, s(k - 1)))
    }

  def secs(ns: Long): Double = ns / 1e9

  private val started = System.nanoTime()
  /** Log a phase boundary to standard error (the run log). */
  def phase(name: String): Unit =
    System.err.println(f"[jobbench] +${secs(System.nanoTime() - started)}%.2fs $name")
}
