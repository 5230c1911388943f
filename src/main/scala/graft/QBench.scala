package graft

/** Dev tool: time a subset of the query catalog (warm run), for perf
  * iteration without the full bench. `runMain graft.QBench sfDir q...`.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession(cpus.toInt, "ERROR")
    names.foreach { n => try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => println(s"$n WARMUP FAIL: ${e.getMessage}") } }
    names.foreach { n =>
      var rows = -1L
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try rows = SparkEntry.queries(n)(spark, sfDir).count()
          catch { case e: Throwable => println(s"$n FAIL: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s min=${times.min}%7.3f s  med=${times.sorted.apply(1)}%7.3f s  rows=$rows")
    }
    spark.stop()
  }
}
