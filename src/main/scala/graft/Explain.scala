package graft

/** Dev tool: dump formatted physical plans for the query catalog so
  * plan regressions (missing pushdown, surprise shuffles, lost
  * broadcasts) are visible. `runMain graft.Explain [sfDir] [names...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tables.localSession(4, "ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
