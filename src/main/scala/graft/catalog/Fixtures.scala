package graft
package catalog

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.streaming.StreamingIngest

/** Builders shared by the catalog's domain files: table loading, temp
  * directories, exact-decimal money columns, file-stream staging and
  * draining, a bounded fan-out for independent driver work, and the
  * synthesized fixtures more than one domain (or a test) reads.
  */
private[graft] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val dec18_2 = DecimalType(18, 2)

  val dec4_2 = DecimalType(4, 2)

  def decSumDouble(c: Column): Column = sum(c.cast(dec18_2)).cast("double")

  /** l_extendedprice * (1 - l_discount) in exact decimal. */
  def discPrice: Column =
    col("l_extendedprice").cast(dec18_2) * (lit(1).cast(dec4_2) - col("l_discount").cast(dec4_2))

  def charge: Column =
    discPrice * (lit(1).cast(dec4_2) + col("l_tax").cast(dec4_2))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def vMilli = floor(col("value") * 1000).cast("long")

  /** Stage the RAW parquet at `src` into `dir` as ONE file named
    * `name`. A single-file source (the driver's testdata layout) is
    * byte-copied, preserving its original encoding (the nanos-ts
    * pin); a Spark-written DIRECTORY (e.g. the sf1 ScaleUp replica)
    * is restaged through [[stageFile]] so it lands as one file —
    * multi-file staging would change batch-split semantics (watermark
    * advancement between per-file triggers could drop rows a
    * single-file source keeps).
    */
  def copyRaw(s: SparkSession, src: String,
      dir: java.nio.file.Path, name: String): Unit = {
    val f = new java.io.File(src)
    if (f.isFile)
      java.nio.file.Files.copy(f.toPath, dir.resolve(name))
    else
      stageFile(s.read.parquet(src), dir, name, System.currentTimeMillis())
  }

  /** Write `df` as ONE parquet file named `name` in `dir` with a fixed
    * modification time — file-stream gates control batch ORDER through
    * mtimes (FileStreamSource processes oldest-first).
    */
  def stageFile(df: DataFrame, dir: java.nio.file.Path, name: String,
      mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    val dst = dir.resolve(name)
    java.nio.file.Files.move(part.toPath, dst)
    require(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
  }

  /** Stage `batches` under `dir` as b1.parquet, b2.parquet, … with
    * mtimes a minute apart, oldest first, so a file stream reads them
    * in order, one file per micro-batch.
    */
  def stageBatches(dir: java.nio.file.Path, batches: Seq[DataFrame]): Unit = {
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      stageFile(df, dir, s"b${i + 1}.parquet", now - (batches.size - i) * 60000L)
    }
  }

  /** Drain the file stream of `schema` rows staged under `inDir` one
    * file per micro-batch (oldest mtime first) with
    * `Trigger.AvailableNow`, handing each batch to `commit`, with the
    * checkpoint at `checkpoint`. Returns once every staged file is
    * processed.
    */
  def drainFileStream(s: SparkSession, schema: StructType,
      inDir: java.nio.file.Path, checkpoint: String)(commit: DataFrame => Unit): Unit =
    StreamingIngest.readFileStream(s, schema, inDir.toString, maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (delta: DataFrame, _: Long) => commit(delta) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Block value of the EXIF fixture's UPRIGHT image — keyed by
    * content group g = (d/25) % 5 so ids sharing g are true
    * duplicates stored under different orientations. The oracle
    * restates it (orientation-independent: that is the point).
    */
  def exifValue(d: Long, bx: Int, by: Int): Int = {
    val g = (d / 25) % 5
    (16 + (g * 47 + bx * 31 + by * 67) % 224).toInt
  }

  /** A 64x48 constant-block gray image (JPEG-q100-exact regime; VP8L
    * is lossless) PHYSICALLY transformed by the inverse of
    * orientation o = 1 + (d/25) % 8 and tagged with EXIF Orientation
    * o — so the upright decode is the SAME base image for every
    * member of the group. Container alternates: every 4th member is
    * a VP8X WebP with an EXIF chunk, the rest JPEG with APP1. Byte
    * order alternates II/MM; the o=1 odd ids carry no Exif at all
    * (the missing-Exif default path).
    */
  def synthExifJpeg(d: Long): Array[Byte] = {
    import graft.operators.{JpegCodec, Multimodal, WebpCodec}
    val k = d / 25
    val o = (1 + k % 8).toInt
    val inv = o match { case 6 => 8; case 8 => 6; case x => x }
    val rgb = new Array[Byte](64 * 48 * 3)
    var i = 0
    while (i < 64 * 48) {
      val b = exifValue(d, (i % 64) / 16, (i / 64) / 16).toByte
      rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
      i += 1
    }
    val upright = JpegCodec.DecodedImage(64, 48, 3, rgb)
    val stored = Multimodal.applyOrientation(upright, inv)
    if (k % 4 == 3) {
      val plain = WebpCodec.encodeLossless(stored.width, stored.height,
        3, stored.pixels)
      WebpCodec.withExifOrientation(d, plain, o, bigEndian = k % 2 == 0)
    } else {
      val enc = JpegCodec.encodeRgb(stored.width, stored.height,
        stored.pixels, quality = 100, subsample = true)
      if (o == 1 && k % 2 == 1) enc // no APP1: the missing-Exif default
      else JpegCodec.withExifOrientation(enc, o, bigEndian = k % 2 == 0)
    }
  }

  /** Normalize a doc's text to the single-space form both the PDF
    * writer and the oracle use.
    */
  def normText(c: Column) =
    trim(regexp_replace(coalesce(c, lit("")), "\\s+", " "))

  /** Run independent units of driver work (each may submit its own
    * Spark jobs) on at most `maxThreads` pool threads, so one unit's
    * task tail back-fills the cores instead of serializing many tiny
    * jobs. Results keep the input order. The first unit to fail
    * cancels the rest (`shutdownNow` interrupts them) and its error is
    * rethrown once the pool has terminated, so no pool thread outlives
    * the call.
    */
  def fanOut[K, R](keys: Seq[K], maxThreads: Int)(unit: K => R): Seq[R] = {
    val pool = Executors.newFixedThreadPool(math.min(keys.size, maxThreads).max(1))
    try {
      val done = new ExecutorCompletionService[R](pool)
      val futures = keys.map(k => done.submit(() => unit(k)))
      // in completion order, so the first unit to fail surfaces at once
      futures.foreach { _ =>
        try done.take().get() catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
