package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: run one named catalog query (warm, then timed) and print
  * its job/stage/task/shuffle profile — the evidence a "query X got
  * slower in the driver run" investigation needs to separate a plan
  * change (stage/task counts move) from box contention (same counts,
  * more wall-clock). `runMain graft.StageProbe sfDir qname [prewarmN]`
  * optionally runs the first N catalog queries first to emulate
  * catalog-order cache/JIT state.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val prewarm = args.drop(2).headOption.map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession(cpus.toInt, "ERROR")
    SparkEntry.queries.keys.toSeq.sorted.take(prewarm).foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
        shuffleRead.addAndGet(
          e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ()
    }
    val fn = SparkEntry.queries(name)
    try fn(spark, sfDir).count() catch { case _: Throwable => () } // warm
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // let the listener bus drain the last stage events
    println(f"""{"probe":"$name","sec":$sec%.3f,"rows":$rows,""" +
      s""""stages":${stages.get()},"tasks":${tasks.get()},""" +
      s""""shuffleReadB":${shuffleRead.get()},""" +
      s""""shuffleWriteB":${shuffleWrite.get()},"prewarm":$prewarm}""")
    spark.stop()
  }
}
