package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run one named catalog query (warm, then probed) and print
  * every Spark JOB it submits with wall-clock duration and stage
  * count — the evidence that separates "many tiny scheduled jobs"
  * (fixed per-job overhead, the toy-SF floor) from "one slow job"
  * (data/plan work). `runMain graft.JobProbe sfDir qname`.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession(cpus.toInt, "ERROR")
    val fn = SparkEntry.queries(name)
    try fn(spark, sfDir).count() catch { case _: Throwable => () } // warm
    case class J(id: Int, start: Long, var end: Long = -1L, var stages: Int = 0)
    val jobs = ArrayBuffer.empty[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += J(e.jobId, e.time, stages = e.stageInfos.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000)
    val js = jobs.synchronized(jobs.toSeq)
    val tracked = js.filter(_.end > 0).map(j => (j.end - j.start) / 1e3)
    println(f"[jobprobe] $name total=$sec%.3f s rows=$rows jobs=${js.size} " +
      f"jobTimeSum=${tracked.sum}%.3f s untracked=${js.count(_.end < 0)}")
    js.foreach { j =>
      val d = if (j.end > 0) f"${(j.end - j.start) / 1e3}%.3f" else "?"
      println(f"[jobprobe]   job ${j.id}%3d  ${d}%8s s  stages=${j.stages}")
    }
    spark.stop()
  }
}
