package graft
package catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Table-format gates: Iceberg v2 metadata interop (deletes, pruning,
  * spec and schema evolution, foreign writers) and data-skipping
  * layouts (zone maps, Z-order).
  */
object IcebergGates {

  private def readMetadataJson(s: SparkSession, tableRoot: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val fs = new org.apache.hadoop.fs.Path(tableRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def readAll(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val in = fs.open(p); try in.readAllBytes() finally in.close()
    }
    val v = new String(readAll(new org.apache.hadoop.fs.Path(
      s"$tableRoot/metadata/version-hint.text"))).trim.toLong
    M.readTree(readAll(new org.apache.hadoop.fs.Path(
      f"$tableRoot/metadata/v$v%05d.metadata.json")))
  }

  val gates: Seq[Gate] = Seq(
    // --- Z-order layout keys (data skipping at 100 TB): Morton-
    //     interleave two 16-bit dimensions with native bit columns,
    //     bucket by key prefix, and report each bucket's span in BOTH
    //     dimensions — the per-bucket min/max that row-group pruning
    //     would use. Oracle replays the interleave with integer bit
    //     ops ------------------------------------------------------
    Gate("q_zorder_layout", (s, dir) => {
      import graft.functions.ZOrder
      val x = pmod(col("user_id"), lit(65536)).cast("long")
      val y = pmod(floor(col("value") * 1000).cast("long"), lit(65536))
      t(s, dir, "events")
        .select(ZOrder.zkey16(x, y).as("z"), x.as("x"), y.as("y"))
        .withColumn("zbucket", shiftright(col("z"), 22))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("zbucket"))
    },
      """WITH b0 AS (
        |  SELECT (CAST(user_id AS BIGINT) % 65536) AS x,
        |         (CAST(floor(value * 1000) AS BIGINT) % 65536) AS y
        |  FROM events),
        |s1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS xs,
        |                    (y | (y << 8)) & 16711935 AS ys FROM b0),
        |s2 AS (SELECT x, y, (xs | (xs << 4)) & 252645135 AS xs,
        |                    (ys | (ys << 4)) & 252645135 AS ys FROM s1),
        |s3 AS (SELECT x, y, (xs | (xs << 2)) & 858993459 AS xs,
        |                    (ys | (ys << 2)) & 858993459 AS ys FROM s2),
        |s4 AS (SELECT x, y, (xs | (xs << 1)) & 1431655765 AS xs,
        |                    (ys | (ys << 1)) & 1431655765 AS ys FROM s3),
        |z AS (SELECT x, y, (xs | (ys << 1)) AS z FROM s4)
        |SELECT (z >> 22) AS zbucket, count(*) AS n,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin),

    // --- zone-map data skipping: documents committed to a
    //     ShardedTable in ingest-order shards (doc_id/64) with
    //     manifest-level min/max stats on doc_id and lang; a range
    //     read opens ONLY shards whose zone intersects [100, 300]
    //     (pruning proven file-level in ZoneMapSpec) and the residual
    //     filter makes the result exactly the SQL range scan ---------
    Gate("q_zonemap_scan", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q_zonemap").toString
      val table = new sink.ShardedTable(s"$tmp/zt", "shard",
        s.sparkContext.hadoopConfiguration)
      val sharded = t(s, dir, "documents")
        .withColumn("shard", (col("doc_id") / 64).cast("long"))
      val shards = sharded.select("shard").distinct()
        .collect().map(_.getLong(0).toString).toSeq // nDocs/64 shard ids
      table.commit(sharded, shards, statsCols = Seq("doc_id", "lang"))
      table.readRange(s, "doc_id", Some("100"), Some("300"))
        .filter(col("doc_id").between(100, 300))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id BETWEEN 100 AND 300
      ORDER BY doc_id
    """),

    // --- zone-map skipping on a TIMESTAMP column: events committed
    //     day-sharded with ts (epoch-micros stats) + value (double
    //     stats); a 3-day range read prunes to the intersecting day
    //     shards (typed pruning proven file-level in ZoneMapSpec) and
    //     the residual filter makes it exactly the SQL range scan ------
    Gate("q_zonemap_ts", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q_zonemap_ts").toString
      val table = new sink.ShardedTable(s"$tmp/zt", "shard",
        s.sparkContext.hadoopConfiguration)
      val sharded = t(s, dir, "events")
        .withColumn("shard", dayofmonth(col("ts")).cast("long"))
      val shards = sharded.select("shard").distinct()
        .collect().map(_.getLong(0).toString).toSeq // one id per day
      table.commit(sharded, shards, statsCols = Seq("ts", "value"))
      def mic(iso: String): Long =
        java.time.Instant.parse(iso).toEpochMilli * 1000L
      table.readRange(s, "ts",
          Some(mic("2024-01-10T00:00:00Z").toString),
          Some((mic("2024-01-13T00:00:00Z") - 1L).toString))
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts < TIMESTAMP '2024-01-13 00:00:00'
      ORDER BY event_id
    """),

    // --- Iceberg v2 FORMAT interop: two native commits mirrored as
    //     real Iceberg snapshots (metadata.json + Avro manifest list
    //     + per-partition manifests, spec-pinned in IcebergMetaSpec),
    //     then read back THROUGH THE ICEBERG METADATA ONLY — current
    //     snapshot and time travel to snapshot 1 — and aggregated.
    //     The oracle replays both epochs from the source table -------
    Gate("q_iceberg_meta", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_iceberg").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"))
      // epoch 1: all four shards from docs < 200
      val v1 = table.commit(docs.filter(col("doc_id") < 200),
        touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1)
      // epoch 2: shards 0/1 rewritten with the full < 300 range
      val v2 = table.commit(docs.filter(col("shard") < 2),
        touched = Seq("0", "1"))
      IcebergMeta.mirror(s, table, v2)
      def agg(snap: Option[Long], label: Int) =
        IcebergMeta.read(s, s"$tmp/t", snapshotId = snap)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label.toLong).as("snapshot"), col("shard"),
            col("n"), col("sum_id"))
      agg(Some(1L), 1).unionByName(agg(None, 2))
        .orderBy(col("snapshot"), col("shard"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 300),
        |s1 AS (
        |  SELECT CAST(1 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE doc_id < 200 GROUP BY shard),
        |s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE shard < 2 OR doc_id < 200 GROUP BY shard)
        |SELECT snapshot, shard, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |ORDER BY snapshot, shard""".stripMargin),

    // --- Iceberg file-level STATS pruning: partitions hold disjoint
    //     doc_id ranges, so the manifests' per-file lower/upper
    //     bounds (field-ids 125/128) let a range read skip whole
    //     files without opening them; rows come back THROUGH the
    //     Iceberg metadata only. The oracle is the plain range scan --
    Gate("q_iceberg_stats_prune", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_icestats").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          (col("doc_id") / 75).cast("long").as("shard"))
      val v = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v)
      IcebergMeta.read(s, s"$tmp/t",
          range = Some(("doc_id", "100", "220")))
        .filter(col("doc_id").between(100, 220)) // exact cut inside kept files
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(col("shard"), col("n"), col("sum_id").cast("long").as("sum_id"))
        .orderBy(col("shard"))
    },
      """SELECT doc_id // 75 AS shard, count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 220
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- Iceberg v2 EQUALITY DELETES (merge-on-read): a compliance
    //     purge deletes doc_ids WITHOUT rewriting any partition — a
    //     delete snapshot whose file removes matches from every data
    //     file with a smaller sequence number; a LATER data commit is
    //     untouched by the older delete. The oracle replays both
    //     snapshots' visibility rules from the source table ----------
    Gate("q_iceberg_deletes", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_icedel").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"))
      val v1 = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1)
      // snapshot 2: purge doc_id % 7 == 3 by equality delete
      IcebergMeta.mirrorDeletes(s, table,
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        equalityCols = Seq("doc_id"))
      // snapshot 3: shard 0 rewritten — its new files outrank the
      // delete's sequence number, so the purge no longer masks them
      val v2 = table.commit(docs.filter(col("shard") === 0),
        touched = Seq("0"))
      IcebergMeta.mirror(s, table, v2)
      def agg(snap: Option[Long], label: Int) =
        IcebergMeta.read(s, s"$tmp/t", snapshotId = snap)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label.toLong).as("snapshot"), col("shard"),
            col("n"), col("sum_id"))
      agg(Some(2L), 2).unionByName(agg(None, 3))
        .orderBy(col("snapshot"), col("shard"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 300),
        |s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE doc_id % 7 <> 3 GROUP BY shard),
        |s3 AS (
        |  SELECT CAST(3 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE shard = 0 OR doc_id % 7 <> 3 GROUP BY shard)
        |SELECT snapshot, shard, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id
        |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY snapshot, shard""".stripMargin),

    // --- Iceberg v2 POSITION DELETES (merge-on-read, content=1): a
    //     foreign engine's MERGE deletes rows by (data file, row
    //     position) rather than by key; the plan is computed
    //     distributedly from Spark's parquet _metadata columns, the
    //     snapshot emitted with a position-delete file, and the
    //     independent reader must purge exactly those rows — while a
    //     LATER rewrite of shard 0 outranks the delete's sequence
    //     number and un-masks it. Oracle replays both snapshots'
    //     visibility rules from the source table -------------------
    Gate("q_iceberg_pos_deletes", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_iceposdel").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"))
      val v1 = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1)
      // snapshot 2: purge doc_id % 7 == 3 by POSITION — the rows'
      // (file, pos) identities come from the current snapshot
      val plan = IcebergMeta.planPositionDeletes(s, s"$tmp/t",
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        joinCols = Seq("doc_id"))
      // tiny maxRowsPerDeleteFile forces a MULTI-FILE delete snapshot:
      // the sharded (repartitionByRange) write path and the reader's
      // union over several delete files are what a mass purge uses
      IcebergMeta.mirrorPositionDeletes(s, table, plan,
        maxRowsPerDeleteFile = 8)
      // snapshot 3: shard 0 rewritten — its new files outrank the
      // delete's sequence number, so the purge no longer masks them
      val v2 = table.commit(docs.filter(col("shard") === 0),
        touched = Seq("0"))
      IcebergMeta.mirror(s, table, v2)
      def agg(snap: Option[Long], label: Int) =
        IcebergMeta.read(s, s"$tmp/t", snapshotId = snap)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label.toLong).as("snapshot"), col("shard"),
            col("n"), col("sum_id"))
      agg(Some(2L), 2).unionByName(agg(None, 3))
        .orderBy(col("snapshot"), col("shard"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 300),
        |s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE doc_id % 7 <> 3 GROUP BY shard),
        |s3 AS (
        |  SELECT CAST(3 AS BIGINT) AS snapshot, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d WHERE shard = 0 OR doc_id % 7 <> 3 GROUP BY shard)
        |SELECT snapshot, shard, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id
        |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY snapshot, shard""".stripMargin),

    // --- Iceberg PARTITION-SPEC EVOLUTION (spec v2): snapshot 1
    //     mirrors under spec 0 = identity(shard); snapshot 2 rewrites
    //     shard 1 and mirrors it under a NEW identity(region) spec
    //     (spec 2, fresh partition field-id) while the untouched
    //     manifests are carried under spec 0 — the mixed-spec
    //     manifest list a foreign writer's spec change produces. The
    //     independent reader resolves each manifest's partition type
    //     through its own partition_spec_id (probe 1: time travel to
    //     the pre-evolution snapshot; probe 2: current mixed-spec
    //     snapshot; probe 3: partition pruning across BOTH spec
    //     domains at once — native "0" and evolved "11"). Oracle
    //     replays all three visibilities --------------------------
    Gate("q_iceberg_spec_evolution", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_specevo").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"),
          (lit(10) + pmod(col("doc_id"), lit(4))).cast("long").as("region"))
      val v1 = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1) // spec 0: identity(shard)
      // evolution: shard 1 rewritten (ids shifted so visibility is
      // provable), its new manifest rides identity(region) — region
      // is shard-constant, satisfying the single-valued-file rule
      val v2 = table.commit(
        docs.filter(col("shard") === 1)
          .withColumn("doc_id", col("doc_id") + 1000),
        touched = Seq("1"))
      IcebergMeta.mirror(s, table, v2, specPartCol = Some("region"))
      def probe(snap: Option[Long], parts: Option[Seq[String]], label: Int) =
        IcebergMeta.read(s, s"$tmp/t", snapshotId = snap,
            partitions = parts)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label.toLong).as("probe"), col("shard"),
            col("n"), col("sum_id"))
      probe(Some(1L), None, 1)
        .unionByName(probe(None, None, 2))
        .unionByName(probe(None, Some(Seq("0", "11")), 3))
        .orderBy(col("probe"), col("shard"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 240),
        |d2 AS (
        |  SELECT CASE WHEN shard = 1 THEN doc_id + 1000 ELSE doc_id END
        |    AS doc_id, shard
        |  FROM d),
        |p1 AS (
        |  SELECT CAST(1 AS BIGINT) AS probe, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d GROUP BY shard),
        |p2 AS (
        |  SELECT CAST(2 AS BIGINT) AS probe, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d2 GROUP BY shard),
        |p3 AS (
        |  SELECT CAST(3 AS BIGINT) AS probe, shard,
        |    count(*) AS n, sum(doc_id) AS sum_id
        |  FROM d2 WHERE shard IN (0, 1) GROUP BY shard)
        |SELECT probe, CAST(shard AS BIGINT) AS shard,
        |  CAST(n AS BIGINT) AS n, CAST(sum_id AS BIGINT) AS sum_id
        |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3) u
        |ORDER BY probe, shard""".stripMargin),

    // --- Iceberg SCHEMA EVOLUTION (spec v2): snapshot 1 writes under
    //     schema 0 = (doc_id, shard); snapshot 2 rewrites shard 2
    //     WITH AN ADDED COLUMN — the metadata accumulates schema 1
    //     (stable field ids, fresh id for the added column, optional
    //     per the spec), `current-schema-id` bumps, and each snapshot
    //     records its own schema-id. The independent reader reads the
    //     CURRENT snapshot under schema 1 (old files null-fill the
    //     added column) and TIME TRAVEL under schema 0 (no leaked
    //     column). Probes: 1 = snapshot-1 visibility, 2 = current
    //     null-fill shape, 3 = partition-pruned current read, 4 = the
    //     added column's actual values. Oracle replays all four -----
    Gate("q_iceberg_schema_evolution", (s, dir) => {
      import graft.sink.{IcebergMeta, ShardedTable}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_schemaevo").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"))
      val v1 = table.commit(docs, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v1) // schema 0: (doc_id, shard)
      // evolution arrives WITH new data: shard 2 rewritten carrying
      // an added nullable column
      val v2 = table.commit(
        docs.filter(col("shard") === 2)
          .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(3)))),
        touched = Seq("2"))
      IcebergMeta.mirror(s, table, v2) // schema 1: + lang (id 3)
      // metadata shape: accumulated schemas, per-snapshot schema ids
      val md = readMetadataJson(s, s"$tmp/t")
      require(md.get("current-schema-id").asInt() == 1 &&
        md.get("schemas").size() == 2 &&
        md.get("last-column-id").asInt() == 3,
        "metadata did not accumulate the evolved schema")
      val snapSchemaIds = md.get("snapshots").elements().asScala
        .map(n => n.get("snapshot-id").asLong() ->
          n.get("schema-id").asInt()).toSeq
      require(snapSchemaIds == Seq(1L -> 0, 2L -> 1),
        s"snapshots carry wrong schema ids: $snapSchemaIds")
      val snap1 = IcebergMeta.read(s, s"$tmp/t", snapshotId = Some(1L))
      require(!snap1.columns.contains("lang"),
        "time travel leaked a column added AFTER the snapshot")
      val cur = IcebergMeta.read(s, s"$tmp/t")
      require(cur.columns.toSeq == Seq("doc_id", "shard", "lang"),
        s"current read is not under the evolved schema: " +
          cur.columns.mkString(","))
      val p1 = snap1.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(1L).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), lit(0L).as("n_lang"))
      def shardAgg(df: DataFrame, probe: Long) = df.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          count(col("lang")).as("n_lang"))
        .select(lit(probe).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), col("n_lang"))
      val p2 = shardAgg(cur, 2L)
      val p3 = shardAgg(
        IcebergMeta.read(s, s"$tmp/t", partitions = Some(Seq("2"))), 3L)
      val p4 = cur.filter(col("lang").isNotNull).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(4L).as("probe"),
          substring(col("lang"), 2, 1).cast("long").as("grp"),
          col("n"), col("sum_id"), col("n").as("n_lang"))
      // DROP evolution (opt-in): shard 2 rewritten WITHOUT lang — the
      // new current schema omits it (schema 2, same last-column-id:
      // dropped ids are never reused), while snapshot 2 keeps lang
      // through its own schema-id. Probe 5 = the lang-less current
      // read, probe 6 = time travel to snapshot 2 STILL carrying it
      val v3 = table.commit(docs.filter(col("shard") === 2),
        touched = Seq("2"))
      IcebergMeta.mirror(s, table, v3, allowDrops = true)
      val md2 = readMetadataJson(s, s"$tmp/t")
      require(md2.get("current-schema-id").asInt() == 2 &&
        md2.get("schemas").size() == 3 &&
        md2.get("last-column-id").asInt() == 3,
        "drop evolution did not append a lang-less schema")
      val cur2 = IcebergMeta.read(s, s"$tmp/t")
      require(cur2.columns.toSeq == Seq("doc_id", "shard"),
        s"current read after drop still carries: " +
          cur2.columns.mkString(","))
      val snap2 = IcebergMeta.read(s, s"$tmp/t", snapshotId = Some(2L))
      require(snap2.columns.toSeq == Seq("doc_id", "shard", "lang"),
        "time travel lost the dropped column")
      val p5 = cur2.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .select(lit(5L).as("probe"), col("shard").as("grp"),
          col("n"), col("sum_id"), lit(0L).as("n_lang"))
      val p6 = shardAgg(snap2, 6L)
      p1.unionByName(p2).unionByName(p3).unionByName(p4)
        .unionByName(p5).unionByName(p6)
        .orderBy(col("probe"), col("grp"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard FROM documents
        |  WHERE doc_id < 240),
        |l AS (
        |  SELECT doc_id, shard, 'l' || (doc_id % 3) AS lang
        |  FROM d WHERE shard = 2),
        |p1 AS (
        |  SELECT CAST(1 AS BIGINT) AS probe, shard AS grp,
        |    count(*) AS n, sum(doc_id) AS sum_id,
        |    CAST(0 AS BIGINT) AS n_lang
        |  FROM d GROUP BY shard),
        |p2 AS (
        |  SELECT CAST(2 AS BIGINT), shard,
        |    count(*), sum(doc_id),
        |    CASE WHEN shard = 2 THEN count(*) ELSE 0 END
        |  FROM d GROUP BY shard),
        |p3 AS (
        |  SELECT CAST(3 AS BIGINT), shard,
        |    count(*), sum(doc_id), count(*)
        |  FROM d WHERE shard = 2 GROUP BY shard),
        |p4 AS (
        |  SELECT CAST(4 AS BIGINT), doc_id % 3,
        |    count(*), sum(doc_id), count(*)
        |  FROM l GROUP BY doc_id % 3),
        |p5 AS (
        |  SELECT CAST(5 AS BIGINT), shard,
        |    count(*), sum(doc_id), CAST(0 AS BIGINT)
        |  FROM d GROUP BY shard),
        |p6 AS (
        |  SELECT CAST(6 AS BIGINT), shard,
        |    count(*), sum(doc_id),
        |    CASE WHEN shard = 2 THEN count(*) ELSE 0 END
        |  FROM d GROUP BY shard)
        |SELECT probe, CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id, CAST(n_lang AS BIGINT) AS n_lang
        |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
        |  UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6) u
        |ORDER BY probe, grp""".stripMargin),

    // --- Foreign-spec pruning conservatism: tables written by an
    //     INDEPENDENT minimal Iceberg v2 writer (ForeignIceberg —
    //     shapes the native mirror never produces). Probe 0 reads a
    //     date-identity table unfiltered; probe 1 partition-filters it
    //     — date bounds are 4-byte LE epoch days and MUST decode to
    //     ISO and prune EXACTLY (the r14 judge's silent-row-loss bug:
    //     they decoded as UTF-8 garbage and dropped every manifest).
    //     Probes 2-4 partition-filter specs this reader cannot decode
    //     — timestamptz identity, bucket[4], truncate[3] — and must
    //     return ALL rows (resolve to not-prunable, never dropped).
    //     The shapes also fuzz non-zero spec/schema ids, multi-element
    //     `schemas`, a snapshot without `schema-id`, and file:///
    //     manifest paths -------------------------------------------
    Gate("q_iceberg_foreign_prune", (s, dir) => {
      import graft.sink.{ForeignIceberg, IcebergMeta}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_foreignice").toString
      // the fixture writer runs 2 jobs per partition value (write +
      // count); pin the 240-row base once so none of them re-scan
      // parquet, and give every spec a 4-value partition source
      val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
        .select(col("doc_id"),
          date_add(lit("2024-01-01").cast("date"),
            pmod(col("doc_id"), lit(4)).cast("int")).as("day"))
        .withColumn("ts", col("day").cast("timestamp"))
        .withColumn("cat", concat(lit("cat"), pmod(col("doc_id"), lit(4))))
        .coalesce(1).localCheckpoint(true)
      ForeignIceberg.write(s, s"$tmp/t_date", docs, Some("day"))
      ForeignIceberg.write(s, s"$tmp/t_ts", docs, Some("ts"),
        ForeignIceberg.Shape(specId = 3, schemaId = 2,
          historicalSchema = true, snapshotSchemaId = false,
          pathForm = "file"))
      ForeignIceberg.write(s, s"$tmp/t_bucket", docs, Some("cat"),
        ForeignIceberg.Shape(transform = "bucket[4]", pathForm = "file3"))
      ForeignIceberg.write(s, s"$tmp/t_trunc", docs, Some("cat"),
        ForeignIceberg.Shape(transform = "truncate[3]", specId = 1))
      // a foreign MERGE/DELETE shape: data files sort by all columns,
      // so position (ordinal, pos) deletes address the pos-th smallest
      // doc_id of day-group ordinal; equality deletes name doc_ids
      import s.implicits._
      ForeignIceberg.write(s, s"$tmp/t_del", docs, Some("day"),
        ForeignIceberg.Shape(pathForm = "file"),
        posDeletes = Seq((0, 0L), (0, 3L), (2, 3L)),
        eqDeletes = Some((Seq(7L, 13L, 26L).toDF("doc_id"), Seq("doc_id"))))
      def probe(root: String, parts: Option[Seq[String]], label: Long) =
        IcebergMeta.read(s, root, partitions = parts)
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(label).as("probe"), col("n"), col("sum_id"))
      probe(s"$tmp/t_date", None, 0L)
        .unionByName(probe(s"$tmp/t_date", Some(Seq("2024-01-02")), 1L))
        .unionByName(probe(s"$tmp/t_ts", Some(Seq("2024-01-02")), 2L))
        .unionByName(probe(s"$tmp/t_bucket", Some(Seq("1")), 3L))
        .unionByName(probe(s"$tmp/t_trunc", Some(Seq("cat")), 4L))
        .unionByName(probe(s"$tmp/t_del", None, 5L))
        .unionByName(probe(s"$tmp/t_del", Some(Seq("2024-01-01")), 6L))
        .orderBy(col("probe"))
    },
    // probes 0, 2, 3, 4 see every row; probe 1 only day = 2024-01-02
    // (doc_id % 4 = 1) — the exact date-identity prune; probes 5/6
    // replay the foreign MERGE/DELETE: position deletes remove the
    // 1st and 4th smallest doc_id of day-group 0 and the 4th of
    // group 2 (files sort by doc_id), equality deletes remove
    // doc_ids 7/13/26, and pruning composes with both
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 240),
        |a AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM d),
        |m AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM d
        |      WHERE doc_id % 4 = 1),
        |posdel AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, doc_id % 4 AS g,
        |      row_number() OVER (PARTITION BY doc_id % 4
        |        ORDER BY doc_id) AS rn
        |    FROM d)
        |  WHERE (g = 0 AND rn IN (1, 4)) OR (g = 2 AND rn = 4)),
        |live AS (
        |  SELECT doc_id FROM d
        |  WHERE doc_id NOT IN (SELECT doc_id FROM posdel)
        |    AND doc_id NOT IN (7, 13, 26)),
        |l5 AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM live),
        |l6 AS (SELECT count(*) AS n, sum(doc_id) AS sum_id FROM live
        |       WHERE doc_id % 4 = 0),
        |u AS (
        |  SELECT 0 AS probe, n, sum_id FROM a
        |  UNION ALL SELECT 1, n, sum_id FROM m
        |  UNION ALL SELECT 2, n, sum_id FROM a
        |  UNION ALL SELECT 3, n, sum_id FROM a
        |  UNION ALL SELECT 4, n, sum_id FROM a
        |  UNION ALL SELECT 5, n, sum_id FROM l5
        |  UNION ALL SELECT 6, n, sum_id FROM l6)
        |SELECT CAST(probe AS BIGINT) AS probe, CAST(n AS BIGINT) AS n,
        |  CAST(sum_id AS BIGINT) AS sum_id
        |FROM u ORDER BY probe""".stripMargin),

    // --- Foreign RENAME / PROMOTION evolution: tables written by the
    //     independent ForeignIceberg.writeHistory — snapshot 1's data
    //     file carries column `old_score` (field id 2), snapshot 2
    //     renames it to `score` (same id). A correct reader surfaces
    //     the old file's VALUES under the current name — the silent
    //     failure mode is 120 nulls. Probe 0 = rename with footer
    //     field ids (engine shape, id-resolved), probe 1 = rename
    //     without ids (unique-historical-name resolution), probe 2 =
    //     time travel to snapshot 1 under ITS schema (old name, no
    //     leakage), probe 3 = int→long + float→double promotion (old
    //     int32/float file read widened under the current schema),
    //     probe 4 = an equality-delete file KEYED UNDER THE PRE-RENAME
    //     name applying to the old file's rows, probe 5 = a
    //     PARTITIONED table whose metadata names differ from the
    //     file columns (name-mapping) — pruning and rename
    //     resolution composing in one read -------------------------
    Gate("q_iceberg_foreign_evolve", (s, dir) => {
      import graft.sink.{ForeignIceberg, IcebergMeta}
      import ForeignIceberg.HistSnap
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_evolve").toString
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), (col("doc_id") * 3).as("score"))
        .coalesce(1).localCheckpoint(true)
      val oldPart = base.filter(col("doc_id") < 120)
        .select(col("doc_id"), col("score").as("old_score"))
      val newPart = base.filter(col("doc_id") >= 120)
      def renTable(withIds: Boolean, sub: String): String =
        ForeignIceberg.writeHistory(s, s"$tmp/$sub", Seq(
          HistSnap(oldPart, Map("doc_id" -> 1, "old_score" -> 2),
            parquetFieldIds = withIds),
          HistSnap(newPart, Map("doc_id" -> 1, "score" -> 2),
            parquetFieldIds = withIds)))
      val tIds = renTable(withIds = true, "t_ids")
      val tNo = renTable(withIds = false, "t_noids")
      val tPromo = ForeignIceberg.writeHistory(s, s"$tmp/t_promo", Seq(
        HistSnap(base.filter(col("doc_id") < 120)
          .select(col("doc_id").cast("int").as("doc_id"),
            col("score").cast("float").as("score")),
          Map("doc_id" -> 1, "score" -> 2)),
        HistSnap(newPart.select(col("doc_id"),
          col("score").cast("double").as("score")),
          Map("doc_id" -> 1, "score" -> 2))))
      // delete keys are old_score VALUES of doc_ids 5 and 10; the
      // delete rides sequence 2 so it applies to the seq-1 old file
      val tDel = ForeignIceberg.writeHistory(s, s"$tmp/t_del", Seq(
        HistSnap(oldPart, Map("doc_id" -> 1, "old_score" -> 2),
          parquetFieldIds = false),
        HistSnap(newPart, Map("doc_id" -> 1, "score" -> 2),
          parquetFieldIds = false)),
        eqDelete = Seq(HistSnap(Seq(15L, 30L).toDF("old_score"),
          Map("old_score" -> 2), parquetFieldIds = false)))
      def agg(df: DataFrame, probe: Long): DataFrame = {
        require(df.columns.toSeq.head == "doc_id",
          s"probe $probe: unexpected shape ${df.columns.mkString(",")}")
        val v = df.columns.last
        df.agg(count(lit(1)).as("n"),
          count(col(v)).as("n_score"),
          sum(col(v)).cast("long").as("sum_score"))
          .select(lit(probe).as("probe"), col("n"), col("n_score"),
            col("sum_score"))
      }
      // partitioned × renamed cross-product: metadata (and the
      // name-mapping property) says score, the id-less files say
      // renv, partition pruning and per-file rename resolution must
      // compose in one read
      val tPart = ForeignIceberg.write(s, s"$tmp/t_part",
        base.withColumn("grp", pmod(col("doc_id"), lit(4)))
          .select(col("doc_id"), col("grp"), col("score").as("renv")),
        Some("grp"), ForeignIceberg.Shape(
          metaNames = Map("renv" -> "score")))
      val curIds = IcebergMeta.read(s, tIds)
      require(curIds.columns.toSeq == Seq("doc_id", "score"),
        "rename table current read is not under the renamed schema")
      val snap1 = IcebergMeta.read(s, tIds, snapshotId = Some(1L))
      require(snap1.columns.toSeq == Seq("doc_id", "old_score"),
        "time travel must read snapshot 1 under the PRE-rename schema")
      val promo = IcebergMeta.read(s, tPromo)
      require(promo.schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType &&
        promo.schema("score").dataType ==
          org.apache.spark.sql.types.DoubleType,
        "promotion table must read under the widened current types")
      val pickedPart = IcebergMeta.read(s, tPart,
        partitions = Some(Seq("1")))
      require(pickedPart.columns.toSeq == Seq("doc_id", "grp", "score"),
        "partitioned rename read is not under the metadata names")
      val p5 = pickedPart
        .agg(count(lit(1)).as("n"), count(col("score")).as("n_score"),
          sum(col("score")).cast("long").as("sum_score"))
        .select(lit(5L).as("probe"), col("n"), col("n_score"),
          col("sum_score"))
      agg(curIds, 0L)
        .unionByName(agg(IcebergMeta.read(s, tNo), 1L))
        .unionByName(agg(snap1, 2L))
        .unionByName(agg(promo, 3L))
        .unionByName(agg(IcebergMeta.read(s, tDel), 4L))
        .unionByName(p5)
        .orderBy(col("probe"))
    },
    // probes 0/1 see all 200 rows with NO nulls in the renamed
    // column (the silent failure mode is n_score = 80); probe 2 the
    // 120 pre-rename rows; probe 3 the widened values (identical
    // sums — int→long and float→double promotions are exact here);
    // probe 4 everything minus the two pre-rename-keyed deletes
      """WITH d AS (
        |  SELECT doc_id, doc_id * 3 AS score FROM documents
        |  WHERE doc_id < 200),
        |o AS (SELECT * FROM d WHERE doc_id < 120),
        |full_t AS (
        |  SELECT count(*) AS n, count(score) AS n_score,
        |    sum(score) AS sum_score FROM d),
        |old_t AS (
        |  SELECT count(*) AS n, count(score) AS n_score,
        |    sum(score) AS sum_score FROM o),
        |del_t AS (
        |  SELECT count(*) AS n, count(score) AS n_score,
        |    sum(score) AS sum_score FROM d
        |  WHERE doc_id NOT IN (5, 10)),
        |part_t AS (
        |  SELECT count(*) AS n, count(score) AS n_score,
        |    sum(score) AS sum_score FROM d
        |  WHERE doc_id % 4 = 1),
        |u AS (
        |  SELECT 0 AS probe, n, n_score, sum_score FROM full_t
        |  UNION ALL SELECT 1, n, n_score, sum_score FROM full_t
        |  UNION ALL SELECT 2, n, n_score, sum_score FROM old_t
        |  UNION ALL SELECT 3, n, n_score, sum_score FROM full_t
        |  UNION ALL SELECT 4, n, n_score, sum_score FROM del_t
        |  UNION ALL SELECT 5, n, n_score, sum_score FROM part_t)
        |SELECT CAST(probe AS BIGINT) AS probe, CAST(n AS BIGINT) AS n,
        |  CAST(n_score AS BIGINT) AS n_score,
        |  CAST(sum_score AS BIGINT) AS sum_score
        |FROM u ORDER BY probe""".stripMargin)
  )
}
