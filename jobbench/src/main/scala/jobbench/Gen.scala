package jobbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Seeded input generation. Every input is a pure function of the
  * seed; the program only ever sees the files written here.
  */
object Gen {
  val Day0Micros = 1704067200000000L // 2024-01-01, the events table's first day
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  val Customers = 15000 // the orders table's customer-key space at sf0.1
  val BootstrapRows = 150000 // one changelog row per sf0.1 order
  val Shards = 32

  /** Events-shaped table (event_id, ts, user_id, event_type, value,
    * props, rev) with about 5% duplicate keys carrying a newer `rev` and
    * about 1% rows whose negative `value` fails the row policy. About a
    * fifth are `error` events, which the ingest filter drops. Written as
    * 16 files.
    */
  def events(spark: SparkSession, seed: Long, base: Long, dir: String): Unit = {
    def h(salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))
    val rows = spark.range(0, base, 1, 8).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Day0Micros) + pmod(h(1), lit(30L * 86400L * 1000000L))).as("ts"),
      pmod(h(2), lit(1500L)).as("user_id"),
      element_at(typedLit(EventTypes), (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      when(pmod(h(4), lit(100L)) === 0, -(pmod(h(5), lit(10000L)) + 1) / 100.0)
        .otherwise(pmod(h(5), lit(56021L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(6), lit(100L)).cast("string"), lit("}")).as("props"),
      lit(0).as("rev"))
    val dups = rows.filter(pmod(xxhash64(lit(seed), col("event_id"), lit(7)), lit(20L)) === 0)
      .withColumn("value", pmod(xxhash64(lit(seed), col("event_id"), lit(8)), lit(56021L)) / 100.0)
      .withColumn("rev", lit(1))
    rows.unionByName(dups).write.mode("overwrite").parquet(dir)
  }

  // --- changelogs -----------------------------------------------------------
  final case class Change(custkey: Long, seq: Long, op: String, price: Double)

  val ChangeSchema: StructType = StructType(Seq(
    StructField("custkey", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false)))

  /** Orders-shaped bootstrap changelog of `n` rows, written as the one
    * parquet file `file`: one upsert per order on a uniform customer key,
    * every 50th a delete (the shape of the catalog's streaming SCD2
    * gate). Generated in Spark: no check needs its rows on the driver.
    */
  def writeBootstrap(spark: SparkSession, seed: Long, n: Int, file: Path): Unit = {
    def h(salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))
    val tmp = file.resolveSibling("_boot")
    spark.range(0, n, 1, 1).select(
      pmod(h(1), lit(Customers.toLong)).as("custkey"),
      col("id").as("seq"),
      when(col("id") % 50 === 0, "D").otherwise("U").as("op"),
      (pmod(h(2), lit(50000000L)) / 100.0).as("price"))
      .write.parquet(tmp.toString)
    moveOnlyPart(tmp, file)
    Bench.deleteTree(tmp)
  }

  private def moveOnlyPart(dir: Path, to: Path): Unit = {
    val part = Files.list(dir).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, to, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Candidate-key counts of successive deltas, cycled: a delta touches
    * about 1, 32 and 8 of the 32 shards in turn. A fixed cycle (not a
    * seeded draw) gives every run the same mix of small and large
    * epochs, so seeds change which keys, not how many; an odd cycle
    * keeps the median epoch inside one size class instead of between
    * two.
    */
  val KeySpread = IndexedSeq(1, 400, 8)

  /** Small deltas of `rows` rows each, whose keys are Zipf-skewed over
    * a per-delta candidate set sized by [[KeySpread]]; about 5% are
    * deletes. Delta `i`'s seqs lie above every earlier delta's and the
    * bootstrap's.
    */
  def deltas(seed: Long, count: Int, rows: Int): IndexedSeq[Seq[Change]] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    (1 to count).map { i =>
      val m = KeySpread((i - 1) % KeySpread.size)
      val candidates = IndexedSeq.fill(m)(r.nextInt(Customers).toLong)
      (0 until rows).map { j =>
        val rank = (math.exp(r.nextDouble() * math.log(m + 1.0)) - 1).toInt.min(m - 1)
        Change(candidates(rank), i * 1000000L + j, if (r.nextInt(20) == 0) "D" else "U",
          r.nextInt(50000000) / 100.0)
      }
    }
  }

  /** Spark's `pmod(hash(custkey), 32)`, the scd2 job's shard of a key. */
  def shardOf(key: Long): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key, 42)
    ((h % Shards) + Shards) % Shards
  }

  /** Write each changelog as one parquet file `<dir>/<name(i)>`, in a
    * single Spark task.
    */
  def writeFiles(spark: SparkSession, logs: Seq[Seq[Change]], dir: Path,
      name: Int => String): Unit = {
    val tmp = dir.resolve("_gen")
    val tagged = logs.zipWithIndex.flatMap { case (rows, i) =>
      rows.map(c => Row(i, c.custkey, c.seq, c.op, c.price)) }
    spark.createDataFrame(tagged.asJava,
        StructType(StructField("file", IntegerType) +: ChangeSchema.fields))
      .coalesce(1).write.partitionBy("file").parquet(tmp.toString)
    logs.indices.foreach(i => moveOnlyPart(tmp.resolve(s"file=$i"), dir.resolve(name(i))))
    Bench.deleteTree(tmp)
  }

  /** The independent reference for a changelog's SCD2 current rows:
    * latest event per key by seq, upserts only.
    */
  def currentRows(changes: DataFrame): DataFrame =
    changes.selectExpr("custkey", "seq", "op", "price",
        "row_number() over (partition by custkey order by seq desc) as rn")
      .where("rn = 1 and op = 'U'")
      .selectExpr("custkey", "price", "seq as valid_from")
}
