package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ThreadAssemblySpec extends SparkSpec {
  import spark.implicits._

  private val Gap = 1800000L // 30 min
  // keep fixture times clear of the epoch-0 initial watermark (a row
  // AT the watermark is late-filtered; real event times never sit at
  // epoch 0)
  private val Base = 86400000L

  private def ts(ms: Long) = new Timestamp(ms)

  private def run(batches: Seq[Seq[(Long, Long, Long, String, String)]]): Seq[(Long, Long, Long, Long, Long, String)] = {
    val inDir = java.nio.file.Files.createTempDirectory("thread_spec")
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      graft.catalog.Fixtures.stageFile(
        rows.map { case (u, ms, id, r, x) => (u, ts(Base + ms), Base + ms, id, r, x) }
          .toDF("user_id", "ts", "ms", "event_id", "role", "text"),
        inDir, s"b$i.parquet", now - 60000L * (batches.size - i))
    }
    val schema = Seq((1L, ts(0), 0L, 1L, "user", "x"))
      .toDF("user_id", "ts", "ms", "event_id", "role", "text").schema
    val stream = StreamingIngest.readFileStream(spark, schema, inDir.toString,
        maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "0 seconds")
      .as[ThreadAssembly.ThreadTurn]
    val out = ThreadAssembly.assemble(stream, Gap)
    val tmp = java.nio.file.Files.createTempDirectory("thread_spec_out").toString
    StreamingIngest.runAvailableNow(out.toDF(), s"$tmp/data", s"$tmp/ck")
    spark.read.parquet(s"$tmp/data")
      .orderBy(col("user_id"), col("session_no"))
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
  }

  test("emits closed sessions in order, assembles text, holds open tails") {
    val m = 60000L
    val out = run(Seq(
      Seq((1L, 0L, 1L, "user", "hi"), (1L, 1 * m, 2L, "assistant", "yo"),
        (1L, 60 * m, 3L, "user", "later")),
      Seq((1L, 200 * m, 4L, "user", "fresh"))))
    // session A (0..1min) end=31min < final wm 200min → emits as #1;
    // session B (60min) end=90min < 200min → emits as #2;
    // session C (200min) end=230min >= wm → never emits
    assert(out.map(r => (r._2, r._3, r._6)) == Seq(
      (1L, 2L, "user: hi\nassistant: yo"),
      (2L, 1L, "user: later")))
    assert(out.head._4 == Base && out.head._5 == Base + 1 * m + Gap)
  }

  test("cutoff is strict: a session ending exactly at the watermark holds") {
    val m = 60000L
    val out = run(Seq(
      // user 2's session end = 0 + gap = 30min; global max event time
      // is EXACTLY 30min (user 3) → strictly-below fails → no emit;
      // user 3's own session is the open tail → no emit either
      Seq((2L, 0L, 1L, "user", "a"), (3L, 30 * m, 2L, "user", "b"))))
    assert(out.isEmpty)
  }

  test("numbering survives an emptied buffer between sessions") {
    val m = 60000L
    val out = run(Seq(
      Seq((5L, 0L, 1L, "user", "one")),
      Seq((5L, 100 * m, 2L, "user", "two")),
      Seq((5L, 400 * m, 3L, "user", "three"))))
    // all three sessions close strictly before the final watermark?
    // end3 = 430min >= max(400min) → session 3 held; 1 and 2 emit
    // with consecutive numbers even though the buffer drained between
    assert(out.map(r => (r._2, r._6)) == Seq((1L, "user: one"), (2L, "user: two")))
  }
}
