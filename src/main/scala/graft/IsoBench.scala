package graft

/** One query, one fresh JVM: the isolation leg of the bench. Same-JVM
  * best-of-N minima still share JIT state, broadcast caches, and the
  * OS page cache across the whole catalog; [[Bench]] spawns this main
  * (java -cp, fresh process) for its most expensive queries and
  * records both numbers in BENCH_FULL.json, so cross-query warming
  * can't flatter a hot spot. Output contract: exactly one stdout line
  * starting with `{"iso":` carrying the min + runs.
  */
object IsoBench {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession(cpus.toInt, "ERROR")
    val fn = SparkEntry.queries(name)
    // one warmup (codegen/broadcast), then two timed runs
    try fn(spark, sfDir).count() catch { case _: Throwable => () }
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val oks = runs.filter(_._2).map(_._1)
    def jd(d: Double) = f"$d%.3f"
    println(s"""{"iso":"$name","min":${if (oks.nonEmpty) jd(oks.min) else "null"},""" +
      s""""runs":[${runs.map(r => jd(r._1)).mkString(",")}]}""")
    spark.stop()
  }
}
