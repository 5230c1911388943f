package graft

import org.apache.spark.sql.functions._

/** Dev probe: time each stage of the JDBC staging protocol. */
object JdbcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val spark = Tables.localSession(16, "ERROR")
    def tTime[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    if (sys.env.get("DERBY_DURABILITY_TEST").contains("1"))
      System.setProperty("derby.system.durability", "test")
    val np = sys.env.getOrElse("PROBE_NP", "8")
    val bs = sys.env.getOrElse("PROBE_BS", "10000")
    val db = "gq" + java.util.UUID.randomUUID.toString.replace("-", "")
    val url = s"jdbc:derby:memory:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE events_final (event_id BIGINT, event_type VARCHAR(32), v_milli BIGINT)")
    conn.close()
    val props = new java.util.Properties()
    props.setProperty("createTableColumnTypes", "event_type VARCHAR(32)")
    props.setProperty("batchsize", bs)
    props.setProperty("numPartitions", np)
    props.setProperty("isolationLevel", "READ_UNCOMMITTED")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"),
        (col("value") * 1000).cast("long").as("v_milli"))
    tTime("stage write")(df.write.mode("overwrite").jdbc(url, "events_staging", props))
    val c2 = java.sql.DriverManager.getConnection(url)
    tTime("insert-select")(c2.createStatement().executeUpdate(
      "INSERT INTO events_final SELECT * FROM events_staging"))
    tTime("delete staging")(c2.createStatement().executeUpdate(
      "DELETE FROM events_staging"))
    c2.close()
    tTime("read back")(graft.sources.JdbcSource.readIncremental(spark, url,
      "events_final", "event_id", -1L, 1L << 40, 8,
      graft.sources.WatermarkType.Simple).count())
    spark.stop()
  }
}
