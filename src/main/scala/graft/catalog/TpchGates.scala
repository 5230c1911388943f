package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.{AsyncEnrich, Compaction, Compliance, Converters, FsCopy, Retention, Skew}
import graft.quality.Quality
import graft.sink.{Bucketed, CatalogPublisher, Publisher, SinkSpec}
import graft.sources.{DatasetFinder, JdbcSource, Partitioner, WatermarkType}

import Fixtures._

/** Relational and pipeline-surface gates: TPC-H-shaped aggregation and
  * joins, the converter chain, sources, writers, publishers, the job
  * and flow runtime, config store and crypto codecs.
  */
object TpchGates {

  /** Fixed 3-key store for q_rotating_aes (ids chosen non-contiguous
    * to prove the id->key mapping, not just an index).
    */
  private val AesStore = graft.functions.RotatingAes.CredentialStore(Map(
    1 -> Array.tabulate(16)(_.toByte),
    7 -> Array.tabulate(16)(i => (255 - i).toByte),
    23 -> "0123456789abcdef".getBytes("UTF-8")))

  /** Scheduler workload shared by the gate and (re-derived) by the
    * oracle: one diamond dag (a → {b, c} → d) per nation key < 8.
    * Users rotate mod 3 (u0/u1 own three dags each, so launches
    * overflow the user quota and quota-fail), groups alternate mod 2,
    * dag 4 submits first with a long root and a 4-tick SLA (its root
    * is killed MID-RUN, the rest cancel), task b fails once on
    * k%4==1 (retry succeeds) and always on k%4==3, task c always on
    * k%4==2 (attempt exhaustion → the failure options diverge:
    * FINISH_RUNNING cancels pending siblings, FINISH_ALL_POSSIBLE
    * finishes what it can).
    */
  private[graft] def dagWorkload(s: SparkSession, dir: String)
      : Seq[graft.runner.DagScheduler.DagTask] = {
    import graft.runner.DagScheduler.DagTask
    val keys = t(s, dir, "nation")
      .filter(col("n_nationkey") < 8)
      .select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq // 8 rows of metadata
    val shape = Seq(("a", Seq.empty[String], 0), ("b", Seq("a"), 1),
      ("c", Seq("a"), 2), ("d", Seq("b", "c"), 3))
    keys.flatMap { k =>
      shape.map { case (task, deps, pos) =>
        DagTask(
          dag = s"dag$k", task = task,
          user = s"u${k % 3}", group = s"g${k % 2}",
          dependsOn = deps,
          duration = if (k == 4 && task == "a") 4 else (1 + (k + pos) % 2).toInt,
          failAttempts =
            if (task == "b" && k % 4 == 1) 1
            else if (task == "b" && k % 4 == 3) 9
            else if (task == "c" && k % 4 == 2) 9
            else 0,
          maxAttempts = 2,
          submitTick = if (k == 4) 0 else k % 3,
          slaTicks = if (k == 4) 4 else -1,
          failureOption =
            if (k % 2 == 0) "FINISH_RUNNING" else "FINISH_ALL_POSSIBLE")
      }
    }
  }

  val gates: Seq[Gate] = Seq(
    // --- aggregation (pricing summary, TPC-H Q1 shape) ----------------
    Gate("q_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1996-12-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSumDouble(col("l_quantity")).as("sum_qty"),
          decSumDouble(col("l_extendedprice")).as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(dec18_2)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1996-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // --- converter chain: filter + field pick (AvroFilterConverter +
    //     AvroFieldsPickConverter) -------------------------------------
    Gate("q_filter_pick", (s, dir) => {
      Converters.chain(
        Converters.filterEquals("event_type", "click"),
        Converters.pickFields("event_id", "user_id", "value"))(t(s, dir, "events"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin),

    // --- multi-way join with broadcast dims ---------------------------
    Gate("q_join_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // --- retention: newest-k versions per dataset ---------------------
    Gate("q_retention_newest_k", (s, dir) => {
      Retention.newestK(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")), 3)
        .orderBy(col("o_custkey"), col("o_orderdate").desc, col("o_orderkey").desc)
    },
      """SELECT * FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) <= 3
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin),

    // --- compliance purge: broadcast anti-join ------------------------
    Gate("q_purge_antijoin", (s, dir) => {
      val purgeIds = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      Compliance.purge(t(s, dir, "lineitem"), purgeIds, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSumDouble(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // --- incremental watermark read (QueryBasedSource semantics) ------
    // The watermark predicate is pushed on the source's NATIVE column —
    // filtering a reconstructed timestamp column would sit above a
    // projection and never reach the parquet scan. Encoding-aware:
    // nanos long → ts_us > wm_us <=> ts_ns >= (wm_us + 1) * 1000 (exact);
    // TIMESTAMP micros → strict > on a timestamp literal (micros-exact,
    // and parquet pushes timestamp predicates).
    Gate("q_incremental_watermark", (s, dir) => {
      val wm = java.time.LocalDateTime.parse("2024-01-15T00:00:00")
      val wmMicros = wm.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000
      val raw = s.read.parquet(s"$dir/events.parquet")
      val pred = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") >= lit((wmMicros + 1) * 1000)
        case org.apache.spark.sql.types.TimestampNTZType =>
          col("ts") > lit(wm) // NTZ compares against LocalDateTime
        case _ =>
          col("ts") > lit(java.sql.Timestamp.from(wm.toInstant(java.time.ZoneOffset.UTC)))
      }
      raw.filter(pred)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), decSumDouble(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- JSON-string parsing (JsonStringToJsonIntermediateConverter) --
    Gate("q_json_props", (s, dir) => {
      Converters.parseJson("props", StructType(Seq(StructField("k", LongType))))(
        t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    // DuckDB SUM(BIGINT) widens to HUGEINT/INT128 — cast the aggregate
    // back to BIGINT so the driver's dtype-sensitive hash matches the
    // Spark LongType sum (values were already identical).
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- Avro container files (AvroFiles on avro-core): parquet ->
    //     .avro part files -> read back -> aggregate; the oracle runs
    //     the same aggregate on the parquet, so the gate proves the
    //     roundtrip is value-exact incl. timestamps ---------------------
    Gate("q_avro_roundtrip", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_avro").toString + "/events"
      val src = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      graft.sources.AvroFiles.write(src, tmp)
      graft.sources.AvroFiles.read(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), decSumDouble(col("value")).as("sum_value"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(ts) AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- schema handed to the engine as TEXT (the reference's schema
    //     file form; JsonSchemaText parses the descriptor grammar) -----
    Gate("q_schema_text_json", (s, dir) => {
      val schema = graft.functions.JsonSchemaText.toStruct(
        """[{"columnName": "k", "dataType": {"type": "long"}, "isNullable": true}]""")
      Converters.parseJson("props", schema)(t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(max(col("k")).as("max_k"), min(col("k")).as("min_k"),
          count(col("k")).as("n_k"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  CAST(MAX(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(MIN(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS min_k,
        |  COUNT(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- 1->N split (StringSplitterConverter -> explode) --------------
    Gate("q_wordcount", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("word"))
    },
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |) WHERE len(word) > 0 GROUP BY word ORDER BY word""".stripMargin),

    // --- time-partitioned write key (TimeBasedWriterPartitioner) ------
    Gate("q_time_partitioned", (s, dir) => {
      Converters.withTimePartition("ts")(t(s, dir, "events"))
        .groupBy(col("date_key"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          decSumDouble(col("value")).as("sum_value"))
        .orderBy(col("date_key"))
    },
      """SELECT strftime(ts, '%Y-%m-%d') AS date_key,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- fork operator: branch-tagged routing -------------------------
    Gate("q_fork_branches", (s, dir) => {
      Converters.forkTagged(t(s, dir, "events"), Seq(
          "big" -> (col("value") >= 150),
          "purchases" -> (col("event_type") === "purchase")))
        .groupBy(col("branch"))
        .agg(count(lit(1)).as("n"), decSumDouble(col("value")).as("sum_value"))
        .orderBy(col("branch"))
    },
      """SELECT branch, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT 'big' AS branch, value FROM events WHERE value >= 150
        |  UNION ALL
        |  SELECT 'purchases' AS branch, value FROM events WHERE event_type = 'purchase'
        |) GROUP BY branch ORDER BY branch""".stripMargin),

    // --- deterministic limiter (CountBasedLimiter) --------------------
    Gate("q_limit_topk", (s, dir) => {
      Converters.limitBy(100, col("value").desc, col("event_id"))(t(s, dir, "events"))
        .select(col("event_id"), col("value"))
    },
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id LIMIT 100""".stripMargin),

    // --- regex filter (StringFilterConverter) -------------------------
    Gate("q_regex_filter", (s, dir) => {
      Converters.regexFilter("text", "join .* merge")(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, n_chars FROM documents
        |WHERE regexp_matches(text, 'join .* merge') ORDER BY doc_id""".stripMargin),

    // --- CSV line parse round-trip (CsvToJsonConverterV2) -------------
    Gate("q_csv_parse", (s, dir) => {
      val lines = t(s, dir, "events")
        .select(concat_ws("|", col("event_id"), col("event_type"), col("user_id")).as("line"))
      Converters.splitDelimited("line", "|", Seq("id", "etype", "uid"))(lines)
        .select(col("id").cast("long").as("id"), col("etype"), col("uid").cast("long").as("uid"))
        .orderBy(col("id"))
    },
      """SELECT CAST(parts[1] AS BIGINT) AS id, parts[2] AS etype, CAST(parts[3] AS BIGINT) AS uid
        |FROM (SELECT string_split(event_id || '|' || event_type || '|' || user_id, '|') AS parts FROM events)
        |ORDER BY id""".stripMargin),

    // --- grok log-line parsing (GrokToJsonConverter) ------------------
    // --- envelope + binary Avro datums end-to-end: events encoded to
    //     datums (AvroDatumEncode), framed in the Confluent wire
    //     format, schema id parsed back, payloads decoded against the
    //     registry (AvroDatumDecode) — the identity must survive the
    //     full encode->frame->parse->decode path ----------------------
    Gate("q_envelope_avro", (s, dir) => {
      import graft.sources.AvroDatumEncode
      import graft.streaming.Envelope
      val ev = t(s, dir, "events")
      val payloadType = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = false)))
      val schemaJson = graft.sources.AvroFiles.avroSchema(payloadType).toString
      val framed = ev.select(Envelope.encode(42,
        AvroDatumEncode(
          struct(col("event_id"), col("event_type")), Some(schemaJson))).as("envelope"))
      Envelope.decodeAvro(framed, "envelope", Map(42 -> schemaJson))
        .select(col("schema_id"),
          col("decoded_42.event_id").as("event_id"),
          col("decoded_42.event_type").as("event_type"))
        .orderBy(col("event_id"))
    },
      // encode->frame->parse->decode is the identity on the payload
      """SELECT CAST(42 AS INT) AS schema_id, event_id, event_type
        |FROM events ORDER BY event_id""".stripMargin),

    Gate("q_grok_parse", (s, dir) => {
      val logs = t(s, dir, "events").select(
        col("event_id"),
        concat(date_format(col("ts"), "yyyy-MM-dd"), lit(" "),
          col("event_type"), lit(" [u"), col("user_id"), lit("]")).as("line"))
      // the %{PATTERN:field:type} form exercises the Grok library end
      // to end; the oracle's plain-regex extraction is value-identical
      // (INT, not NONNEGINT: the latter's \b cannot match between the
      // literal 'u' and a digit — both are word characters)
      Converters.grok("line", "^%{NOTSPACE:day} %{NOTSPACE:etype} \\[u%{INT:uid:long}\\]$")(logs)
        .groupBy(col("day"), col("etype"))
        .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("n_users"))
        .orderBy(col("day"), col("etype"))
    },
      """WITH parsed AS (
        |  SELECT
        |    regexp_extract(line, '^(\S+) (\S+) \[u(\d+)\]$', 1) AS day,
        |    regexp_extract(line, '^(\S+) (\S+) \[u(\d+)\]$', 2) AS etype,
        |    CAST(regexp_extract(line, '^(\S+) (\S+) \[u(\d+)\]$', 3) AS BIGINT) AS uid
        |  FROM (SELECT strftime(ts, '%Y-%m-%d') || ' ' || event_type || ' [u' || user_id || ']' AS line FROM events)
        |)
        |SELECT day, etype, COUNT(*) AS n, COUNT(DISTINCT uid) AS n_users
        |FROM parsed GROUP BY day, etype ORDER BY day, etype""".stripMargin),

    // --- field-level crypto round-trip (crypto converters) ------------
    Gate("q_aes_roundtrip", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("enc", expr("aes_encrypt(cast(text as binary), '0123456789abcdef')"))
        .withColumn("text_rt", expr("cast(aes_decrypt(enc, '0123456789abcdef') as string)"))
        .select(col("doc_id"), col("text_rt"))
        .orderBy(col("doc_id"))
    },
      "SELECT doc_id, text AS text_rt FROM documents ORDER BY doc_id"),

    // --- key-rotating AES with a credential store (ref
    //     RotatingAESCodec + JsonCredentialStore): encrypt each doc
    //     under a deterministically rotated key in the reference wire
    //     format, read the keyId back from the header, decrypt ---------
    Gate("q_rotating_aes", (s, dir) => {
      import graft.functions.RotatingAes
      val docs = t(s, dir, "documents")
      val kid = RotatingAes.pickKeyId(AesStore, col("doc_id"))
      docs.withColumn("enc", RotatingAes.encrypt(col("text"), kid, AesStore))
        .select(col("doc_id"),
          RotatingAes.keyId(col("enc")).as("key_id"),
          RotatingAes.decrypt(col("enc"), AesStore).cast("string").as("decrypted"))
        .orderBy(col("doc_id"))
    }, OracleSql.rotatingAes(keyIds = Seq(1, 7, 23))),

    // --- skew-safe two-phase aggregation: event_type is a hot key
    //     (6 values over the whole table); the salted partial spreads
    //     each over 16 reducers, the final agg merges. Result must be
    //     IDENTICAL to the plain group-by (the oracle) ----------------
    Gate("q_skew_agg", (s, dir) => {
      graft.operators.Skew.saltedAgg(
          t(s, dir, "events"), keyCols = Seq("event_type"),
          saltFrom = Seq("event_id"), buckets = 16,
          partialAggs = Seq(count(lit(1)).as("_n"),
            sum(floor(col("value") * 1000).cast("long")).as("_sv"),
            min(col("event_id")).as("_mn")),
          finalAggs = Seq(sum(col("_n")).as("n"),
            sum(col("_sv")).as("sum_v_milli"),
            min(col("_mn")).as("min_event_id")))
        .orderBy(col("event_type"))
    },
      // the salted two-phase agg must equal the plain group-by
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli,
        |  MIN(event_id) AS min_event_id
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // --- SQL surface: the SparkSessionExtensions-registered native
    //     expressions driven through spark.sql (a reference user's
    //     SQL-first entry point), not the Column API -------------------
    Gate("q_sql_surface", (s, dir) => {
      graft.plans.GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, fnv64(text) AS text_fnv,
              |  simhash_fnv64(text) AS text_simhash
              |FROM graft_documents ORDER BY doc_id""".stripMargin)
    }, OracleSql.sqlSurface),

    // --- rollup totals (extension beyond reference surface) -----------
    Gate("q_rollup_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(decSumDouble(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // --- running window aggregation -----------------------------------
    Gate("q_window_running", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend",
          sum(col("o_totalprice").cast(dec18_2)).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // --- count-histogram range probing (SalesforceSource planning) ----
    Gate("q_histogram_probe", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT strftime(o_orderdate, '%Y-%m') AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- as-of join: latest order at event time (composition path) ---
    Gate("q_asof_join", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
      graft.operators.AsOfJoin.asOfLeft(e, o,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payload = Map("last_order_date" -> col("o_orderdate")))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS last_order_date
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),

    // --- interval/range join via bin compositing ----------------------
    Gate("q_range_join", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; cast is exact under the UTC session
          unix_micros(col("o_orderdate").cast("timestamp")).as("od"))
      val week = 7L * 24 * 3600 * 1000000
      val points = o.select(col("o_orderkey").as("p_orderkey"), col("o_custkey").as("k"), col("od").as("p"))
      val ranges = o.select(col("o_orderkey").as("r_orderkey"), col("o_custkey").as("k2"),
        col("od").as("s"), (col("od") + week).as("e"))
      graft.operators.RangeJoin.intervalJoin(points, ranges, "k", "k2", "p", "s", "e", week)
        .filter(col("p_orderkey") =!= col("r_orderkey"))
        .select(col("p_orderkey"), col("r_orderkey"))
        .orderBy(col("p_orderkey"), col("r_orderkey"))
    },
      """SELECT a.o_orderkey AS p_orderkey, b.o_orderkey AS r_orderkey
        |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
        |  AND a.o_orderdate >= b.o_orderdate
        |  AND a.o_orderdate < b.o_orderdate + INTERVAL 7 DAY
        |  AND a.o_orderkey <> b.o_orderkey
        |ORDER BY p_orderkey, r_orderkey""".stripMargin),

    // --- compaction END-TO-END (ref MRCompactorAvroKeyDedupJobRunner):
    //     stage a 16-file copy of the 4-column lineitem projection, run
    //     Compaction.compact (dedup + sized merge + staged write +
    //     verify + atomic publish), read back the PUBLISHED output; the
    //     oracle is the dedup SQL over the original table --------------
    Gate("q_compaction_e2e", (s, dir) => {
      val tmp = tmpDir("graft_compact")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .repartition(16).write.parquet(s"$tmp/input")
      val spec = SinkSpec(s"$tmp/staging", s"$tmp/output")
      val res = Compaction.compact(s, s"$tmp/input", spec,
        keys = Seq("l_orderkey"),
        deltaCols = Seq("l_linenumber", "l_partkey", "l_quantity"))
      require(res.isRight, s"compaction vetoed: $res")
      s.read.parquet(s"$tmp/output").orderBy(col("l_orderkey"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC) = 1
        |ORDER BY l_orderkey""".stripMargin),

    // --- distcp copy end-to-end (ref FileAwareInputStreamDataWriter +
    //     DistcpFileSplitter): plan with a split size small enough to
    //     force chunked copies + executor-side stitching, execute,
    //     verify lengths, then PROVE byte-fidelity by reading the
    //     copied parquet (footer/page checksums catch any corruption)
    //     and aggregating; the oracle aggregates the source table -----
    Gate("q_fscopy_verify", (s, dir) => {
      val tmp = tmpDir("graft_copy")
      t(s, dir, "events").select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .repartition(4).write.parquet(s"$tmp/src/events")
      val plan = FsCopy.plan(s, s"$tmp/src", s"$tmp/dest", splitSize = 64L * 1024)
      FsCopy.execute(plan)
      val errs = FsCopy.verify(plan)
      require(errs.isEmpty, s"copy verify failed: $errs")
      s.read.parquet(s"$tmp/dest/events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- JDBC staging-table protocol end-to-end against embedded Derby
    //     (ref Gobblin-JDBC-Writer.md:16-24): Spark-parallel staging
    //     write -> one-transaction INSERT..SELECT swap -> watermark-
    //     partitioned incremental read-back (8 predicate partitions) --
    Gate("q_jdbc_staging", (s, dir) => {
      val db = "gq" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(
          "CREATE TABLE events_final (event_id BIGINT, event_type VARCHAR(32), v_milli BIGINT)")
        finally st.close()
      } finally conn.close()
      val props = new java.util.Properties()
      // keep Spark's auto-created staging schema swap-compatible with
      // the VARCHAR final table (Derby CLOB won't INSERT..SELECT)
      props.setProperty("createTableColumnTypes", "event_type VARCHAR(32)")
      val df = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), vMilli.as("v_milli"))
      JdbcSource.writeViaStaging(df, url, "events_final", "events_staging", props)
      JdbcSource.readIncremental(s, url, "events_final", "event_id",
          low = -1L, high = 1L << 40, maxIntervals = 8, wmType = WatermarkType.Simple)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- retention policy combination (ref CombineRetentionPolicy
    //     .java:67 INTERSECT + NewestK + TimeBased): survivors = kept
    //     by BOTH policies; output = the deletable set DatasetCleaner
    //     would remove --------------------------------------------------
    Gate("q_retention_deletable", (s, dir) => {
      val v = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      val newest = Retention.newestK(v, Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")), 3)
      // o_orderdate is TIMESTAMP_NTZ — an NTZ literal avoids a
      // session-TZ cast in the comparison
      val recent = Retention.newerThan(v, "o_orderdate",
        lit("1997-06-01 00:00:00").cast("timestamp_ntz"))
      val survivors = Retention.keepIntersect(Seq(newest, recent))
      Retention.deletable(v, survivors)
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """WITH v AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate FROM orders
        |), newest AS (
        |  SELECT * FROM v QUALIFY row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) <= 3
        |), recent AS (
        |  SELECT * FROM v WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00'
        |), survivors AS (
        |  SELECT * FROM newest INTERSECT SELECT * FROM recent
        |)
        |SELECT * FROM v EXCEPT SELECT * FROM survivors
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // --- publish + catalog registration (ref HiveRegistrationPublisher
    //     -> HiveRegister): staged partitioned write -> atomic publish
    //     -> register + RECOVER PARTITIONS -> read back BY NAME --------
    Gate("q_catalog_publish", (s, dir) => {
      val tmp = tmpDir("graft_cat")
      val spec = SinkSpec(s"$tmp/staging", s"$tmp/out", partitionBy = Seq("event_type"))
      val pub = new Publisher(s.sparkContext.hadoopConfiguration)
      pub.writeStaged(
        t(s, dir, "events").select(col("event_id"), col("user_id"), col("value"), col("event_type")),
        spec)
      s.sql("DROP TABLE IF EXISTS graft_cat_events") // fresh location each run
      new CatalogPublisher(s).publishAndRegister(pub, spec, "graft_cat_events")
      s.table("graft_cat_events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- multi-dataset finder + time-aware selection + replication
    //     (ref CopyableGlobDatasetFinder + TimeAwareRecursiveCopyable
    //     Dataset.java:43-80): orders laid out as dataset-per-status /
    //     version-per-month; glob discovery, version window [1996,
    //     1997), layout-preserving FsCopy of just those versions, read
    //     back the REPLICA; oracle filters the source table -----------
    Gate("q_dataset_finder", (s, dir) => {
      val tmp = tmpDir("graft_dsf")
      // dataset-per-status / version-per-year layout; repartition on
      // the partition cols => one file per version dir
      t(s, dir, "orders")
        .withColumn("year_key", expr("substr(cast(o_orderdate as string), 1, 4)"))
        .repartition(col("o_orderstatus"), col("year_key"))
        .write.partitionBy("o_orderstatus", "year_key").parquet(s"$tmp/root")
      val datasets = DatasetFinder.findDatasets(s, s"$tmp/root/o_orderstatus=*")
      val selected = DatasetFinder.inWindow(
          DatasetFinder.versions(s, datasets), "'year_key='yyyy",
          lit("1996-01-01 00:00:00").cast("timestamp"),
          lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("dataset"), col("version"), col("path"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val plan = DatasetFinder.planCopies(s, selected, s"$tmp/dest", splitSize = 256L * 1024)
      FsCopy.execute(plan)
      s.read.parquet(s"$tmp/dest")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("year_key")).as("n_years"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(DISTINCT strftime(o_orderdate, '%Y')) AS n_years,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // --- REST paged extractor end-to-end (ref RestApiExtractor.java:
    //     232-238 cursor paging, :172 max-watermark probe): probe the
    //     high watermark, fan (0, high] into 8 page chains (one task
    //     each), walk pages of 100 with a transient failure planted at
    //     page 2 (retried), parse via from_json; the oracle recomputes
    //     the deterministic feed with range() ---------------------------
    Gate("q_rest_paged", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import graft.sources.RestSource
      val client = new RestSource.DeterministicFeed(feedHigh = 5000,
        failFirstAttemptAtPage = Set(2))
      val high = RestSource.maxWatermark(client, "gate_events", "id", 0)
        .getOrElse(sys.error("max watermark probe failed"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", LongType)))
      RestSource.readIncremental(s, client, "gate_events", "id",
          low = 0, high = high, maxIntervals = 8, schema = schema,
          pageSize = 100, maxRetries = 3)
        .orderBy(col("id"))
    },
    // the deterministic feed replayed: ids (0, 5000], v = (id*K) % 1000
      """SELECT range AS id, (range * 2654435761) % 1000 AS v
        |FROM range(1, 5001) ORDER BY id""".stripMargin),

    // --- cross-database table replication (ref HiveCopyEntityHelper):
    //     register a partitioned table in one database, copy data +
    //     definition + partitions into another, read the REPLICA by
    //     name ----------------------------------------------------------
    Gate("q_table_copy", (s, dir) => {
      val tmp = tmpDir("graft_tc")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_src")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_dst")
      s.sql("DROP TABLE IF EXISTS graft_src.gate_ev")
      s.sql("DROP TABLE IF EXISTS graft_dst.gate_ev_copy")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.partitionBy("event_type").parquet(s"$tmp/src")
      new CatalogPublisher(s).register(
        SinkSpec(s"$tmp/stg", s"$tmp/src", partitionBy = Seq("event_type")),
        "graft_src.gate_ev")
      graft.sink.TableCopy.copyTable(s, "graft_src.gate_ev",
        "graft_dst.gate_ev_copy", s"$tmp/dst")
      s.table("graft_dst.gate_ev_copy")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"),
          max(col("user_id")).as("max_user"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli,
        |  MAX(user_id) AS max_user
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- async lookup-join enrichment (ref AsyncHttpJoinConverter):
    //     bounded in-flight batched client calls; the fake client
    //     computes a pure function the oracle replays in SQL -----------
    Gate("q_async_enrich", (s, dir) => {
      val client: Seq[String] => Map[String, String] = keys =>
        keys.map(k => k -> ((k.toLong * 2654435761L) % 1000).toString).toMap
      AsyncEnrich.enrich(
          t(s, dir, "events").select(col("event_id"), col("user_id")),
          "user_id", "enriched", client, batchSize = 500)
        .select(col("event_id"), col("enriched").cast("long").as("enrich_v"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, (user_id * 2654435761) % 1000 AS enrich_v
        |FROM events ORDER BY event_id""".stripMargin),

    // --- the FULL batch job lifecycle (ref AbstractJobLauncher +
    //     SafeDatasetCommit): run 1 is vetoed by a mandatory task
    //     policy (abort, no watermark), run 2 publishes and commits the
    //     watermark, run 3 re-plans from it and publishes ZERO new rows
    //     — the final output proves abort/publish/incremental all
    //     behaved (a leaked run-1 publish or a re-published run-3 would
    //     double the counts) -------------------------------------------
    Gate("q_jobrunner_lifecycle", (s, dir) => {
      import graft.model.JobSpec
      import graft.runner.JobRunner
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_jr")
      val store = new FsStateStore(s"$tmp/state")
      val job = JobSpec("gate_lifecycle")
      val read: SparkSession => DataFrame = sess =>
        Tables.load(sess, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      def run(taskPolicies: Seq[Quality.TaskPolicy]) = JobRunner.run(
        s, store, job, read, watermarkCol = "event_id",
        ops = Seq.empty,
        rowPolicies = Seq(Quality.RowPolicy("vcap", col("value") <= 190, Quality.ErrFile)),
        taskPolicies = taskPolicies,
        sink = (s"$tmp/staging", s"$tmp/out", Nil),
        quarantineDir = Some(s"$tmp/quarantine"))
      val r1 = run(Seq(Quality.TaskPolicy("impossible", mandatory = true, _ => false)))
      require(!r1.published, "run 1 must be vetoed")
      require(JobRunner.lowWatermark(store, job).isEmpty, "vetoed run must not commit a watermark")
      val r2 = run(Seq(Quality.TaskPolicy("rows_present", mandatory = true,
        m => m("rows").asInstanceOf[Long] > 0)))
      require(r2.published, "run 2 must publish")
      val r3 = run(Nil)
      require(r3.published && r3.rowsWritten == 0,
        s"run 3 must be an empty incremental, got $r3")
      s.read.parquet(s"$tmp/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE value <= 190
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- snapshot-diff file source (ref FileBasedSource.java:88): land
    //     the even half, snapshot, land the odd half; the second plan
    //     must select ONLY the new files — reading them yields exactly
    //     the odd half --------------------------------------------------
    Gate("q_snapshot_diff", (s, dir) => {
      import graft.sources.FileDiffSource
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_fdiff")
      val store = new FsStateStore(s"$tmp/state")
      val conf = s.sparkContext.hadoopConfiguration
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .repartition(2).write.mode("append").parquet(s"$tmp/in")
      val p1 = FileDiffSource.plan(s"$tmp/in", FileDiffSource.loadSnapshot(store, "gate"), conf)
      FileDiffSource.saveSnapshot(store, "gate", p1.snapshot)
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .repartition(2).write.mode("append").parquet(s"$tmp/in")
      val p2 = FileDiffSource.plan(s"$tmp/in", FileDiffSource.loadSnapshot(store, "gate"), conf)
      require(p2.newFiles.nonEmpty && p2.newFiles.size < p2.snapshot.size,
        s"diff must select only the second landing: ${p2.newFiles.size} of ${p2.snapshot.size}")
      s.read.parquet(p2.newFiles: _*)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- external-service sink (ref AsyncWriterManager/RetryWriter/
    //     ThrottleWriter): batched upsert writes with a planted
    //     transient failure (retried) and a rate limiter; the store is
    //     keyed, so at-least-once delivery + idempotent upserts =
    //     exactly-once contents, which the oracle checks ---------------
    Gate("q_client_sink_retry", (s, dir) => {
      import graft.sink.ClientSink
      val runId = java.util.UUID.randomUUID.toString
      val df = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), vMilli.as("v_milli"))
      val stats = ClientSink.write(df, new GateStores.UpsertWriter(runId),
        batchSize = 500, maxRetries = 3, backoffMs = 1, ratePerSecond = Some(1e6))
      require(stats.retries >= 1, s"the planted transient failure must be retried: $stats")
      require(stats.rows == df.count(), s"all rows delivered: $stats")
      import s.implicits._
      GateStores.upsertContents(runId).toSeq
        .map { case (id, (et, v)) => (id, et, v) }
        .toDF("event_id", "event_type", "v_milli")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- record-driven object-store deletion (ref
    //     ObjectStoreDeleteConverter.java:47): preload one object per
    //     document (executor-side), delete the short-doc set in
    //     batches, list the survivors ------------------------------------
    Gate("q_obj_store_delete", (s, dir) => {
      import graft.operators.ObjectStoreDelete
      val runId = java.util.UUID.randomUUID.toString
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id")).foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach(r => GateStores.putObject(runId, "obj-" + r.getLong(0)))
      }
      val deletes = docs.filter(col("n_chars") < 300)
        .select(concat(lit("obj-"), col("doc_id")).as("key"))
      val stats = ObjectStoreDelete.delete(deletes, "key",
        new GateStores.MapDeleteClient(runId), batchSize = 100)
      require(stats.requested == stats.deleted, s"all requested keys existed: $stats")
      import s.implicits._
      GateStores.objectKeys(runId)
        .map(_.stripPrefix("obj-").toLong).toSeq.toDF("doc_id")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM documents WHERE NOT (n_chars < 300)
        |ORDER BY doc_id""".stripMargin),

    // --- date-partitioned source planning (ref PartitionedFileSource
    //     Base.java:202 + DatePartitionedNestedRetriever): land events
    //     under date_key partitions, plan strictly-after-watermark with
    //     a 5-partition-per-run cap, read ONLY the selected partitions
    //     — the oracle replays watermark + cap with a sorted LIMIT ----
    Gate("q_partitioned_source", (s, dir) => {
      import graft.sources.PartitionedFileSource
      val tmp = tmpDir("graft_pfs")
      graft.operators.Converters.withTimePartition("ts")(t(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"), col("date_key"))
        .repartition(col("date_key"))
        .write.partitionBy("date_key").parquet(s"$tmp/in")
      val plan = PartitionedFileSource.plan(s"$tmp/in", lowWatermark = Some("2024-01-10"),
        maxPartitionsPerRun = 5, conf = s.sparkContext.hadoopConfiguration)
      require(plan.paths.size == 5 && plan.highWatermark.exists(_ > "2024-01-10"),
        s"watermark/cap planning broke: $plan")
      s.read.parquet(plan.paths: _*)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
    // watermark '2024-01-10' then the 5 SMALLEST later date keys
      """WITH dk AS (
        |  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS date_key FROM events
        |  WHERE strftime(ts, '%Y-%m-%d') > '2024-01-10'
        |  ORDER BY date_key LIMIT 5
        |)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events e JOIN dk ON strftime(e.ts, '%Y-%m-%d') = dk.date_key
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    // --- JSON-intermediate type matrix THROUGH the text schema parser
    //     (ref JsonElementConversionFactory.java:66-762 +
    //     JsonIntermediateToAvroConverter): long/int/double/boolean/
    //     string/array/nested-record, serialized to JSON and parsed
    //     back via the schema DOCUMENT; every column recomputed by the
    //     oracle ------------------------------------------------------
    Gate("q_json_type_matrix", (s, dir) => {
      import graft.operators.Converters
      val payload = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("id"),
        col("user_id").cast("int").as("ui"),
        floor(col("value") * 1000).cast("long").as("vm"),
        (pmod(col("event_id"), lit(2)) === 0).as("flag"),
        col("event_type").as("st"),
        array(col("user_id"), col("event_id")).as("arr"),
        struct(col("user_id").as("nested_u")).as("rec"))).as("payload"))
      val schema = graft.functions.JsonSchemaText.toStruct(
        """[
          |{"columnName":"id","dataType":{"type":"long"}},
          |{"columnName":"ui","dataType":{"type":"int"}},
          |{"columnName":"vm","dataType":{"type":"long"}},
          |{"columnName":"flag","dataType":{"type":"boolean"}},
          |{"columnName":"st","dataType":{"type":"string"}},
          |{"columnName":"arr","dataType":{"type":"array","items":"long"}},
          |{"columnName":"rec","dataType":{"type":"record","name":"rec",
          |  "values":[{"columnName":"nested_u","dataType":{"type":"long"}}]}}
          |]""".stripMargin)
      Converters.parseJson("payload", schema)(payload)
        .select(col("id"), col("ui"), col("vm"), col("flag"), col("st"),
          element_at(col("arr"), 1).as("arr_head"), size(col("arr")).as("arr_len"),
          col("rec.nested_u").as("nested_u"))
        .orderBy(col("id"))
    },
      """SELECT event_id AS id, CAST(user_id AS INT) AS ui,
        |  CAST(floor(value * 1000) AS BIGINT) AS vm,
        |  event_id % 2 = 0 AS flag, event_type AS st,
        |  user_id AS arr_head, CAST(2 AS INT) AS arr_len,
        |  user_id AS nested_u
        |FROM events ORDER BY id""".stripMargin),

    // --- Kafka batch-offset planning (ref KafkaSource.java:419-447):
    //     topic ranges derived from the events table (one topic per
    //     event_type), committed offsets mid-range for c* topics,
    //     out-of-range for 'purchase' (resets to earliest), absent for
    //     the rest; the oracle replays the offset-selection logic -----
    Gate("q_kafka_offset_plan", (s, dir) => {
      import graft.sources.KafkaOffsets
      val ranges = t(s, dir, "events").groupBy(col("event_type"))
        .agg(min(col("event_id")).as("earliest"), max(col("event_id")).as("latest"))
        .collect().map(r => KafkaOffsets.PartitionRange(r.getString(0), 0, r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_.topic) // driver metadata: one row per topic
      val prev: Map[(String, Int), Long] = ranges.collect {
        case pr if pr.topic == "purchase" => (pr.topic, 0) -> -5L // fell out of range
        case pr if pr.topic.startsWith("c") => (pr.topic, 0) -> (pr.earliest + 100)
      }.toMap
      val plan = KafkaOffsets.plan(prev, ranges, KafkaOffsets.ResetToEarliest)
      import s.implicits._
      ranges.map { pr =>
        (pr.topic, 0, plan.startingOffsets((pr.topic, 0)), plan.endingOffsets((pr.topic, 0)))
      }.toDF("topic", "partition", "start_offset", "end_offset")
        .orderBy(col("topic"))
    },
    // committed c*-topic offsets resume mid-range; the out-of-range
    // 'purchase' offset and absent topics reset to earliest
      """SELECT event_type AS topic, CAST(0 AS INT) AS partition,
        |  CASE WHEN event_type LIKE 'c%' AND event_type <> 'purchase'
        |       THEN MIN(event_id) + 100 ELSE MIN(event_id) END AS start_offset,
        |  MAX(event_id) AS end_offset
        |FROM events GROUP BY event_type ORDER BY topic""".stripMargin),

    // --- the DECLARATIVE job surface (ref EmbeddedGobblin / .pull job
    //     files): a compaction job defined entirely as a properties
    //     text runs through JobConfig.runAny; output = the published
    //     compacted table, oracle = the dedup SQL — proves a reference
    //     user's config-file workflow end-to-end ----------------------
    Gate("q_job_config_compact", (s, dir) => {
      import graft.runner.JobConfig
      val tmp = tmpDir("graft_jobcfg")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .repartition(8).write.parquet(s"$tmp/in")
      val props = JobConfig.parse(
        s"""job.type=compact
           |source.path=$tmp/in
           |compact.keys=l_orderkey
           |compact.delta=l_linenumber,l_partkey,l_quantity
           |sink.staging=$tmp/staging
           |sink.output=$tmp/out
           |""".stripMargin)
      val r = JobConfig.runAny(s, props)
      require(r("published") == "true", s"declarative compaction failed: $r")
      s.read.parquet(s"$tmp/out").orderBy(col("l_orderkey"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC) = 1
        |ORDER BY l_orderkey""".stripMargin),

    // --- nested-field converter chain (ref FlattenNestedKeyConverter
    //     .java:57 + StringSplitterToListConverter): build a nested
    //     payload, flatten a.b.c -> a_b_c, split a csv column to a list
    //     — the oracle recomputes every derived column -----------------
    Gate("q_converter_nested", (s, dir) => {
      import graft.operators.Converters
      val nested = t(s, dir, "events").select(col("event_id"),
        struct(struct(col("user_id").as("uid")).as("inner"),
          col("event_type").as("etype")).as("payload"),
        concat_ws(",", col("event_type"), col("event_id"), col("user_id")).as("csvline"))
      Converters.chain(
          Converters.flattenNestedKeys("payload.inner.uid", "payload.etype"),
          Converters.splitToList("csvline", ",", "parts"))(nested)
        .select(col("event_id"), col("payload_inner_uid"), col("payload_etype"),
          size(col("parts")).as("n_parts"), element_at(col("parts"), 1).as("first_part"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id AS payload_inner_uid, event_type AS payload_etype,
        |  CAST(3 AS INT) AS n_parts, event_type AS first_part
        |FROM events ORDER BY event_id""".stripMargin),

    // --- bucketed co-located join (sink.Bucketed): both sides written
    //     bucketBy(8, key) + sortBy, so the fact-to-fact join plans
    //     with ZERO ShuffleExchange — asserted on the physical plan at
    //     run time, so a regression that silently drops bucket info
    //     (e.g. a path-based save) fails the gate, not just a spec ----
    Gate("q_bucketed_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      Bucketed.writeBucketed(li, "graft_bkt_lineitem", "l_orderkey", 8)
      Bucketed.writeBucketed(o, "graft_bkt_orders", "o_orderkey", 8)
      val joined = Bucketed.readBucketed(s, "graft_bkt_lineitem").hint("merge")
        .join(Bucketed.readBucketed(s, "graft_bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val shuffles = joined.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      require(shuffles.isEmpty,
        s"bucketed join planned ${shuffles.size} shuffle exchange(s) — bucketing not applied")
      joined.groupBy(col("o_orderpriority"))
        .agg(decSumDouble(col("l_quantity")).as("sum_qty"),
          sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // --- salted skew join (Skew.saltedJoin): big side salted on
    //     stable columns, small side exploded to every salt — the
    //     manual co-location for joins AQE's skew split can't reach.
    //     The oracle is the PLAIN join, so the gate proves salted ==
    //     unsalted semantics ------------------------------------------
    Gate("q_skew_join", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      val small = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      Skew.saltedJoin(big, small, "l_orderkey", buckets = 8,
          saltFrom = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(discPrice).cast("double").as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // --- JDBC interval planning (sources.Partitioner.intervals, ref
    //     Partitioner.java SIMPLE type): split the observed [min,max]
    //     user_id range into <=32 half-open spans; the oracle replays
    //     the ceil-division arithmetic in SQL over the same range ------
    Gate("q_partition_intervals", (s, dir) => {
      val mm = t(s, dir, "events")
        .agg(min(col("user_id")).cast("long"), max(col("user_id")).cast("long")).head()
      val iv = Partitioner.intervals(mm.getLong(0), mm.getLong(1), 32, WatermarkType.Simple)
      import s.implicits._
      iv.toDF("lo_w", "hi_w").orderBy(col("lo_w"))
    },
      """WITH r AS (SELECT CAST(min(user_id) AS BIGINT) AS lo, CAST(max(user_id) AS BIGINT) AS hi FROM events),
        |p AS (SELECT lo, hi, least(32, hi - lo) AS n,
        |        CAST(ceil(CAST(hi - lo AS DOUBLE) / least(32, hi - lo)) AS BIGINT) AS step FROM r),
        |e AS (SELECT lo, hi, step, unnest(range(0, n)) AS i FROM p)
        |SELECT lo + i * step AS lo_w, least(lo + (i + 1) * step, hi) AS hi_w
        |FROM e WHERE lo + i * step < hi ORDER BY lo_w""".stripMargin),

    // --- pivot (relational-adjacent, beyond the reference): per-source
    //     event-type matrix — count + exact-decimal value sum per cell.
    //     Spark `pivot` with explicit values (no extra distinct scan);
    //     the oracle is the portable FILTER-aggregation spelling ------
    Gate("q_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = t(s, dir, "events")
        .select(pmod(col("user_id"), lit(10)).as("user_bucket"),
          col("event_type"), col("value"))
        .groupBy(col("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
      // pivot count yields NULL for an empty (bucket, type) cell; the
      // oracle's count(*) FILTER yields 0 — align by construction, not
      // by corpus density (sum stays NULL-on-empty on both sides)
      pivoted.select(col("user_bucket") +:
          types.map(tp => coalesce(col(s"${tp}_n"), lit(0L)).as(s"${tp}_n")) ++:
          types.map(tp => col(s"${tp}_v_milli")): _*)
        .orderBy(col("user_bucket"))
    }, {
      val cells = Seq("click", "error", "purchase", "signup", "view").map { t =>
        s"""  count(*) FILTER (event_type = '$t') AS ${t}_n,
           |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) FILTER (event_type = '$t') AS BIGINT) AS ${t}_v_milli"""
          .stripMargin
      }.mkString(",\n")
      s"""SELECT user_id % 10 AS user_bucket,
         |$cells
         |FROM events GROUP BY user_id % 10 ORDER BY user_bucket""".stripMargin
    }),

    // --- recursion eliminator (ref AvroRecursionEliminatingConverter
    //     .java:42): a self-referencing record schema is rejected by
    //     the direct StructType mapping, made ingestable by
    //     eliminateRecursion + toParseStruct (recursive field REMOVED,
    //     the reference's behavior), then actually used to parse JSON
    //     payloads that DO carry the recursive subtree. sum_id proves
    //     the parser skips the dropped subtree cleanly (a desynced
    //     parse would leak reply.id = 2*doc_id into id) ----------------
    Gate("q_recursive_schema", (s, dir) => {
      import graft.functions.JsonSchema._
      val inner = Seq[(String, SType)](
        "id" -> SLong, "lang" -> SString,
        "score" -> SUnion(Seq(SNull, SLong)),
        "tags" -> SArray(SString))
      val comment = SRecord("comment",
        inner :+ ("reply" -> SRecord("comment", inner :+ ("reply" -> SNull))))
      val rejected =
        try { toSpark(comment); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "recursive schema must be rejected before elimination")
      val schema = toParseStruct(comment)
      require(!schema.fieldNames.contains("reply"), "recursive field must be dropped")
      val js = format_string(
        """{"id": %s, "lang": "%s", "score": %s, "tags": %s, "reply": {"id": %s, "lang": "zz", "score": 1, "tags": [], "reply": null}}""",
        col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("null"))
          .otherwise(pmod(col("doc_id"), lit(7)).cast("string")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("""["a","b"]"""))
          .otherwise(lit("""["a"]""")),
        (col("doc_id") * 2).cast("string"))
      t(s, dir, "documents")
        .select(from_json(js, schema).as("p"))
        .groupBy(col("p.lang").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.id")).as("sum_id"),
          sum(col("p.score")).as("sum_score"),
          sum(size(col("p.tags")).cast("long")).as("n_tags"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 7 END) AS BIGINT) AS sum_score,
        |  count(*) + count(*) FILTER (doc_id % 2 = 0) AS n_tags
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // --- generic record-stream processor chain (ref
    //     RecordStreamProcessor.java, StreamModelTaskRunner.java:78):
    //     a 4-stage Converters.chain — predicate filter, 1->N record
    //     splitter, post-split filter, projection — run as ONE
    //     composed op, the way JobRunner executes converter chains ----
    Gate("q_processor_chain", (s, dir) => {
      val op = Converters.chain(
        Converters.filterWhere(col("lang").isin("en", "de")),
        Converters.splitToRecords("text", " ", "word"),
        Converters.filterWhere(length(col("word")) > 0),
        Converters.pickFields("doc_id", "lang", "word"))
      op(t(s, dir, "documents"))
        .groupBy(col("lang"), length(col("word")).as("wlen"))
        .agg(count(lit(1)).as("n"), min(col("word")).as("min_word"))
        .orderBy(col("lang"), col("wlen"))
    },
      """SELECT lang, CAST(len(word) AS INT) AS wlen, count(*) AS n, min(word) AS min_word
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE lang IN ('en', 'de'))
        |WHERE len(word) > 0
        |GROUP BY lang, len(word) ORDER BY lang, wlen""".stripMargin),

    // --- multicast flow DAG (ref Dag-of-JobSpecs compilation +
    //     DagManager): one landing ingest fans out to a compacted mart
    //     AND a replicated vault; the shared ingest hop compiles to
    //     ONE job both branches depend on, and a re-execute skips all
    //     three. Result = both branch outputs, branch-tagged ----------
    Gate("q_flow_multicast", (s, dir) => {
      import graft.runner.FlowCompiler
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_fanout")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val edges = Seq(
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, parquetD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")),
        FlowEdge("archive", "warehouse", "vault", parquetD, parquetD, Map(
          "job.type" -> "copy",
          "source.path" -> "${flow.work}/wh",
          "copy.dest" -> "${flow.work}/vault")))
      val flow = FlowSpec("gate_fanout", "landing", "unused", input = parquetD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp))
      val dag = FlowCompiler.compileMulticast(edges, flow,
          Seq("mart" -> parquetD, "vault" -> parquetD))
        .fold(e => sys.error(e), identity)
      require(dag.nodes.map(_.edge.id) == Seq("ingest", "compact", "archive") &&
        dag.nodes.count(_.edge.id == "ingest") == 1,
        s"shared prefix must compile to ONE ingest: ${dag.nodes.map(_.jobName)}")
      val store = new FsStateStore(s"$tmp/flowstate")
      val r1 = FlowCompiler.executeDag(s, store, dag)
      require(r1.map(_.action) == Seq("ran", "ran", "ran"), s"first run executes: $r1")
      val r2 = FlowCompiler.executeDag(s, store, dag)
      require(r2.map(_.action).forall(_ == "skipped"), s"rerun resumes: $r2")
      val mart = s.read.parquet(s"$tmp/mart").withColumn("branch", lit("mart"))
      val vault = s.read.parquet(s"$tmp/vault").withColumn("branch", lit("vault"))
      mart.unionByName(vault)
        .groupBy(col("branch"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .orderBy(col("branch"), col("event_type"))
    },
      """SELECT b.branch, e.event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events e CROSS JOIN (SELECT unnest(['mart', 'vault']) AS branch) b
        |GROUP BY b.branch, e.event_type ORDER BY b.branch, e.event_type""".stripMargin),

    // --- GaaS flow compiler (ref MultiHopFlowCompiler.java:78,
    //     BFSPathFinder.java:70, Orchestrator.java:82): a 2-hop flow
    //     (landing -> warehouse ingest -> compacted mart) compiled by
    //     descriptor-typed BFS — a 1-hop decoy edge demands avro and
    //     must lose to the compatible 2-hop path — then executed
    //     hop-by-hop with per-hop completion records; a second execute
    //     skips every hop (resume contract). Result = the mart --------
    Gate("q_flow_compile", (s, dir) => {
      import graft.runner.FlowCompiler
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_flow")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val tableD = DatasetDescriptor(format = "table")
      val edges = Seq(
        FlowEdge("direct", "landing", "mart",
          DatasetDescriptor(format = "avro"), tableD, Map.empty),
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "ops" -> "filter",
          "op.filter.predicate" -> "value <= 180",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, tableD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")))
      val flow = FlowSpec("gate_flow", "landing", "mart",
        input = parquetD, output = tableD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp))
      val compiled = FlowCompiler.compile(edges, flow)
        .fold(e => sys.error(e), identity)
      require(compiled.hops.map(_.id) == Seq("ingest", "compact"),
        s"BFS must pick the compatible 2-hop path, got ${compiled.hops.map(_.id)}")
      val store = new FsStateStore(s"$tmp/flowstate")
      val r1 = FlowCompiler.execute(s, store, compiled)
      require(r1.map(_.action) == Seq("ran", "ran"), s"first run executes: $r1")
      val r2 = FlowCompiler.execute(s, store, compiled)
      require(r2.map(_.action) == Seq("skipped", "skipped"), s"rerun resumes: $r2")
      s.read.parquet(s"$tmp/mart")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE value <= 180
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- persisted flow catalog (ref gobblin-runtime spec_catalog/
    //     FlowCatalog.java + spec_store/FSSpecStore.java): a FlowSpec
    //     is STORED (v1), read back, compiled, executed; a revised
    //     spec is re-stored (v2, history kept, current pointer moves)
    //     and the re-execution RESUMES — same hop identities, so the
    //     state store's completion records skip both hops. Output =
    //     catalog + orchestration audit; the oracle restates it with
    //     the one data-derived row (mart rows) from events -----------
    Gate("q_flow_catalog", (s, dir) => {
      import graft.runner.{FlowCatalog, FlowCompiler}
      import graft.runner.FlowCompiler._
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_flowcat")
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/landing")
      val parquetD = DatasetDescriptor(format = "parquet")
      val tableD = DatasetDescriptor(format = "table")
      val edges = Seq(
        FlowEdge("ingest", "landing", "warehouse", parquetD, parquetD, Map(
          "job.type" -> "ingest",
          "source.path" -> "${flow.landing}",
          "source.watermark.expr" -> "event_id",
          "ops" -> "filter",
          "op.filter.predicate" -> "value <= ${flow.maxval}",
          "state.dir" -> "${flow.work}/state",
          "sink.staging" -> "${flow.work}/wh_staging",
          "sink.output" -> "${flow.work}/wh")),
        FlowEdge("compact", "warehouse", "mart", parquetD, tableD, Map(
          "job.type" -> "compact",
          "source.path" -> "${flow.work}/wh",
          "compact.keys" -> "event_id",
          "sink.staging" -> "${flow.work}/mart_staging",
          "sink.output" -> "${flow.work}/mart")))
      val catalog = new FlowCatalog(s"$tmp/catalog")
      val v1Spec = FlowSpec("cat_flow", "landing", "mart",
        input = parquetD, output = tableD,
        config = Map("landing" -> s"$tmp/landing", "work" -> tmp,
          "maxval" -> "180"))
      val v1 = catalog.put(v1Spec)
      val stored = catalog.get("cat_flow").getOrElse(sys.error("flow missing"))
      require(stored == v1Spec, s"catalog roundtrip drifted: $stored")
      val store = new FsStateStore(s"$tmp/flowstate")
      val c1 = FlowCompiler.compile(edges, stored).fold(e => sys.error(e), identity)
      val r1 = FlowCompiler.execute(s, store, c1)
      // revision: tighter threshold stored as v2 — history keeps v1,
      // the current pointer moves, and hop identity is unchanged so
      // the resume contract skips the already-done hops
      val v2 = catalog.put(v1Spec.copy(
        config = v1Spec.config.updated("maxval", "120")))
      val c2 = FlowCompiler.compile(edges,
        catalog.get("cat_flow").get).fold(e => sys.error(e), identity)
      val r2 = FlowCompiler.execute(s, store, c2)
      val martRows = s.read.parquet(s"$tmp/mart").count()
      import s.implicits._
      Seq(
        ("catalog_flows", catalog.list().size.toString),
        ("catalog_versions", catalog.versions("cat_flow").mkString(",")),
        ("current_version", catalog.currentVersion("cat_flow").getOrElse("")),
        ("mart_rows", martRows.toString),
        ("run1_actions", r1.map(_.action).mkString(",")),
        ("run2_actions", r2.map(_.action).mkString(",")),
        ("stored_versions", s"$v1,$v2"),
        ("v1_readable", catalog.get("cat_flow", "v1")
          .contains(v1Spec).toString))
        .toDF("metric", "value").orderBy(col("metric"))
    },
    // mart_rows reflects v1's run (value <= 180): the v2 re-execution
    // resumes (skips) rather than recomputing with the new threshold
      """SELECT 'catalog_flows' AS metric, '1' AS value
        |UNION ALL SELECT 'catalog_versions', 'v1,v2'
        |UNION ALL SELECT 'current_version', 'v2'
        |UNION ALL SELECT 'mart_rows',
        |  CAST((SELECT count(*) FROM events WHERE value <= 180) AS VARCHAR)
        |UNION ALL SELECT 'run1_actions', 'ran,ran'
        |UNION ALL SELECT 'run2_actions', 'skipped,skipped'
        |UNION ALL SELECT 'stored_versions', 'v1,v2'
        |UNION ALL SELECT 'v1_readable', 'true'
        |ORDER BY metric""".stripMargin),

    // --- whole-schema flatten (Converters.flattenAll — the reference's
    //     AvroFlattener): a doubly-nested payload built from events
    //     columns flattens to dotted-path columns in one projection --
    Gate("q_flatten_all", (s, dir) => {
      val nested = t(s, dir, "events").select(col("event_id"),
        struct(col("user_id").as("uid"),
          struct(col("event_type").as("etype"),
            floor(col("value") * 1000).cast("long").as("v_milli")).as("inner"))
          .as("payload"))
      Converters.flattenAll()(nested).orderBy(col("event_id"))
    },
      """SELECT event_id, user_id AS payload_uid, event_type AS payload_inner_etype,
        |  CAST(floor(value * 1000) AS BIGINT) AS payload_inner_v_milli
        |FROM events ORDER BY event_id""".stripMargin),

    // --- Bloom-filter join pruning (functions.Bloom — Spark's own
    //     runtime-filter expressions surfaced): filter built over the
    //     purchase users, big side semi-filtered before any shuffle.
    //     No-false-negative is checked row-exactly (every exact match
    //     passes the bloom); the FPR flag bounds the surplus ----------
    Gate("q_bloom_prefilter", (s, dir) => {
      import graft.functions.Bloom
      val ev = t(s, dir, "events")
      val bits = Bloom.buildBloom(ev.filter(col("event_type") === "purchase"),
        xxhash64(col("user_id")), expectedItems = 20000L, numBits = 160000L)
      val tagged = ev
        .withColumn("_bloom_pass", Bloom.mightContain(bits, xxhash64(col("user_id"))))
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct().withColumn("_exact", lit(true)),
          Seq("user_id"), "left")
      tagged.groupBy(col("event_type"))
        .agg(count(when(col("_exact"), 1)).as("n_exact"),
          (count(when(col("_exact") && !col("_bloom_pass"), 1)) === 0).as("no_false_neg"),
          (count(when(col("_bloom_pass") && col("_exact").isNull, 1)) <=
            count(lit(1)) * 0.05).as("fpr_ok"))
        .orderBy(col("event_type"))
    },
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT event_type,
        |  count(*) FILTER (user_id IN (SELECT user_id FROM p)) AS n_exact,
        |  true AS no_false_neg, true AS fpr_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- approximate quantiles (percentile_approx — KLL-style rank
    //     sketch): per-language approximate median of token counts
    //     checked against the exact interpolated median at a 10%
    //     value bound; the oracle replays the exact side and the
    //     bound verdict (same pattern as q_approx_distinct) -----------
    Gate("q_approx_quantile", (s, dir) => {
      import graft.functions.Text
      t(s, dir, "documents")
        .select(col("lang"), Text.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("lang"))
        .agg(percentile(col("n"), lit(0.5)).as("exact_med"),
          percentile_approx(col("n"), lit(0.5), lit(10000)).as("_approx"))
        .select(col("lang"), col("exact_med"),
          (abs(col("_approx") - col("exact_med")) <= col("exact_med") * 0.1)
            .as("approx_in_bound"))
        .orderBy(col("lang"))
    },
      """SELECT lang,
        |  quantile_cont(CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT), 0.5) AS exact_med,
        |  true AS approx_in_bound
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // --- HLL sketch (approx_count_distinct — Spark's HyperLogLog++):
    //     per-group estimate checked against the exact distinct count
    //     at 3x the requested rsd. The estimate is deterministic for
    //     fixed data, so the bound flag is stable; the oracle replays
    //     the exact side and asserts the bound --------------------------
    Gate("q_approx_distinct", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("_est") - col("n_exact")) <= col("n_exact") * 0.15)
            .as("est_in_bound"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS est_in_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- config store resolve (ref gobblin-config-management:
    //     ConfigStoreBackedValueInspector.java:111-141 precedence,
    //     SimpleHadoopFilesystemConfigStore.java:87-128 FS layout):
    //     deploy TWO store versions to a temp FS tree — a stale decoy
    //     and the real one — open the CURRENT version, and batch-
    //     resolve one dataset node per nation. Per-nation import sets
    //     exercise every precedence rule: own > first import (and its
    //     whole ancestor chain) > second import > parent > root. The
    //     oracle restates the expected winner of every (path, key)
    //     from the nation table alone ------------------------------
    Gate("q_config_resolve", (s, dir) => {
      import graft.runner.ConfigStore
      import graft.runner.ConfigStore.Node
      val tmp = tmpDir("graft_cfgstore")
      // nation is a fixed-size dimension (25 rows at every SF):
      // bounded driver metadata, same class as seeds/offsets elsewhere
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      val stale = Map(
        "/" -> Node(Vector("retention.days" -> "1", "owner" -> "stale")))
      val shared = Map(
        "/" -> Node(Vector("retention.days" -> "365", "owner" -> "root-team")),
        "/datasets" -> Node(Vector("owner" -> "data-team")),
        "/tags" -> Node(),
        "/tags/hot" -> Node(Vector(
          "retention.days" -> "30", "priority" -> "high")),
        "/tags/cold" -> Node(Vector(
          "retention.days" -> "3650", "tier" -> "archive")))
      val dsNodes = nations.map { case (k, name) =>
        val imports = (k % 3) match {
          case 0 => Vector("/tags/hot")
          case 1 => Vector("/tags/cold", "/tags/hot")
          case _ => Vector.empty[String]
        }
        s"/datasets/${name.toLowerCase}" ->
          Node(Vector("nation.key" -> k.toString), imports)
      }.toMap
      ConfigStore.deployFs(tmp, "v0.9", stale)
      ConfigStore.deployFs(tmp, "v1.0", shared ++ dsNodes)
      val cs = ConfigStore.openFs(tmp) // must pick v1.0, not the decoy
      cs.resolveAll(s, dsNodes.keys.toSeq.sorted)
        .orderBy(col("path"), col("key"))
    },
      """WITH d AS (
        |  SELECT '/datasets/' || lower(n_name) AS path,
        |         n_nationkey % 3 AS m, n_nationkey AS k
        |  FROM nation)
        |SELECT path, key, value, origin FROM (
        |  SELECT path, 'nation.key' AS key, CAST(k AS VARCHAR) AS value,
        |         path AS origin FROM d
        |  UNION ALL
        |  -- an import's RESOLUTION includes its own ancestor chain
        |  -- (ref recursion: imports before parent, shared visited
        |  -- set) — so for importing nodes root's owner lands before
        |  -- the parent /datasets ever gets a turn
        |  SELECT path, 'owner',
        |    CASE WHEN m IN (0, 1) THEN 'root-team' ELSE 'data-team' END,
        |    CASE WHEN m IN (0, 1) THEN '/' ELSE '/datasets' END FROM d
        |  UNION ALL
        |  SELECT path, 'retention.days',
        |    CASE m WHEN 0 THEN '30' WHEN 1 THEN '3650' ELSE '365' END,
        |    CASE m WHEN 0 THEN '/tags/hot' WHEN 1 THEN '/tags/cold'
        |           ELSE '/' END FROM d
        |  UNION ALL
        |  SELECT path, 'priority', 'high', '/tags/hot' FROM d WHERE m IN (0, 1)
        |  UNION ALL
        |  SELECT path, 'tier', 'archive', '/tags/cold' FROM d WHERE m = 1
        |) ORDER BY path, key""".stripMargin),

    // --- mergeable HLL sketches (Datasketches via Spark natives):
    //     per-type user sketches UNION into a global estimate without
    //     re-scanning — the property that lets 1000 executors sketch
    //     independently. Gate checks each estimate against the exact
    //     count within the sketch's error bound ---------------------
    Gate("q_sketch_union", (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      // no persist: perType is a 5-row aggregate, recomputing beats
      // pinning cache blocks in the shared gate session
      val perType = e.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("n_exact"))
      val typeRows = perType
        .select(col("event_type").as("scope"), col("n_exact"),
          (abs(hll_sketch_estimate(col("sk")) - col("n_exact"))
            <= col("n_exact") * 0.05).as("est_in_bound"))
      val allRow = perType
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(e.agg(count_distinct(col("user_id")).as("n_exact")))
        .select(lit("__all__").as("scope"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("est_in_bound"))
      typeRows.unionAll(allRow).orderBy(col("scope"))
    },
      """SELECT scope, n_exact, est_in_bound FROM (
        |  SELECT event_type AS scope,
        |         count(DISTINCT user_id) AS n_exact,
        |         true AS est_in_bound
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT '__all__', count(DISTINCT user_id), true FROM events
        |) ORDER BY scope""".stripMargin),

    // --- config impact analysis (ref InMemoryTopology.getImportedBy):
    //     "who breaks if this tag changes" — direct importers and the
    //     transitive closure for every tag in a deployed store whose
    //     tags themselves import a shared base tag -----------------
    Gate("q_config_impact", (s, dir) => {
      import graft.runner.ConfigStore
      import graft.runner.ConfigStore.Node
      import s.implicits._
      val tmp = tmpDir("graft_cfgimpact")
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      val shared = Map(
        "/" -> Node(),
        "/datasets" -> Node(),
        "/tags" -> Node(),
        "/tags/base" -> Node(Vector("audit" -> "on")),
        "/tags/hot" -> Node(Vector("retention.days" -> "2"),
          imports = Vector("/tags/base")),
        "/tags/cold" -> Node(Vector("retention.days" -> "365"),
          imports = Vector("/tags/base")))
      val ds = nations.map { case (k, name) =>
        val imp = (k % 3) match {
          case 0 => Vector("/tags/hot")
          case 1 => Vector("/tags/cold")
          case _ => Vector.empty[String]
        }
        s"/datasets/${name.toLowerCase}" -> Node(Vector.empty, imp)
      }.toMap
      ConfigStore.deployFs(tmp, "v1", shared ++ ds)
      val cs = ConfigStore.openFs(tmp)
      Seq("/tags/base", "/tags/cold", "/tags/hot")
        .map(tag => (tag,
          cs.importedBy(tag).size.toLong,
          cs.importedByRecursively(tag).size.toLong))
        .toDF("tag", "n_direct", "n_transitive")
        .orderBy(col("tag"))
    },
      """WITH c AS (
        |  SELECT count(*) FILTER (n_nationkey % 3 = 0) AS nh,
        |         count(*) FILTER (n_nationkey % 3 = 1) AS nc
        |  FROM nation)
        |SELECT tag, n_direct, n_transitive FROM (
        |  SELECT '/tags/base' AS tag, CAST(2 AS BIGINT) AS n_direct,
        |         CAST(2 + nh + nc AS BIGINT) AS n_transitive FROM c
        |  UNION ALL
        |  SELECT '/tags/cold', CAST(nc AS BIGINT), CAST(nc AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT '/tags/hot', CAST(nh AS BIGINT), CAST(nh AS BIGINT) FROM c
        |) ORDER BY tag""".stripMargin),

    // --- config-driven retention: the reference's PRIMARY use of the
    //     config store — per-dataset retention.days resolved through
    //     tag imports, then broadcast-joined onto the fact table to
    //     select deletable records. Config is metadata; the data path
    //     sees one broadcast hash join -----------------------------
    Gate("q_config_retention", (s, dir) => {
      import graft.runner.ConfigStore
      import graft.runner.ConfigStore.Node
      val tmp = tmpDir("graft_cfgret")
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      val shared = Map(
        "/" -> Node(Vector("retention.days" -> "14")),
        "/datasets" -> Node(),
        "/tags" -> Node(),
        "/tags/hot" -> Node(Vector("retention.days" -> "2")),
        "/tags/cold" -> Node(Vector("retention.days" -> "365")))
      val ds = nations.map { case (k, name) =>
        val imp = (k % 3) match {
          case 0 => Vector("/tags/hot")
          case 1 => Vector("/tags/cold")
          case _ => Vector.empty[String]
        }
        s"/datasets/${name.toLowerCase}" -> Node(Vector.empty, imp)
      }.toMap
      ConfigStore.deployFs(tmp, "v1", shared ++ ds)
      val cfg = ConfigStore.openFs(tmp).resolveAll(s, ds.keys.toSeq.sorted)
        .filter(col("key") === "retention.days")
        .select(regexp_extract(col("path"), "/datasets/(.*)", 1).as("dataset"),
          col("value").cast("long").as("days"))
      val events = t(s, dir, "events")
      val nationDim = t(s, dir, "nation")
        .select(col("n_nationkey"), lower(col("n_name")).as("dataset"))
      val tagged = events.join(broadcast(nationDim),
        pmod(col("user_id"), lit(nations.length)) === col("n_nationkey"))
      val maxUs = events.agg(max(unix_micros(col("ts"))).as("max_us"))
      tagged.crossJoin(broadcast(maxUs))
        .join(broadcast(cfg), Seq("dataset"))
        .filter(unix_micros(col("ts")) <
          col("max_us") - col("days") * lit(86400000000L))
        .groupBy(col("dataset")).agg(count(lit(1)).as("n_deletable"))
        .orderBy(col("dataset"))
    },
      """WITH cfg AS (
        |  SELECT lower(n_name) AS dataset, n_nationkey AS k,
        |    CASE n_nationkey % 3 WHEN 0 THEN 2 WHEN 1 THEN 365
        |         ELSE 14 END AS days
        |  FROM nation),
        |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        |tagged AS (
        |  SELECT c.dataset, c.days, epoch_us(e.ts) AS us
        |  FROM events e JOIN cfg c
        |    ON e.user_id % (SELECT count(*) FROM nation) = c.k)
        |SELECT dataset, count(*) AS n_deletable
        |FROM tagged, mx
        |WHERE us < max_us - days * 86400000000
        |GROUP BY dataset ORDER BY dataset""".stripMargin),

    // --- guaranteed heavy hitters (Misra-Gries candidates + exact
    //     confirm — operators/HeavyHitters.scala): every word holding
    //     > 1/35 of all token occurrences, with its exact count. The
    //     sketch bounds pass-1 state at k counters per partition and
    //     the confirm pass shuffles only candidate rows; the output
    //     is exact, so the oracle is a plain GROUP BY ... HAVING ----
    Gate("q_heavy_hitters", (s, dir) => {
      import graft.operators.HeavyHitters
      import graft.functions.Text
      val words = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
      HeavyHitters.heavyHitters(words, col("word"), k = 35)
        .withColumnRenamed("key", "word")
        .orderBy(col("word"))
    },
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS word
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM w)
        |SELECT word, count(*) AS cnt FROM w, tot
        |GROUP BY word, n HAVING count(*) * 35 > n
        |ORDER BY word""".stripMargin),

    // --- Kafka-shaped envelope ingestion END-TO-END (the composed
    //     KafkaStreamingExtractor chain, ref gobblin-modules/
    //     gobblin-kafka-common/.../KafkaStreamingExtractor.java:87-392
    //     + FlushingExtractor.java:79-151): a simulated topic
    //     directory carries Confluent-wire envelopes under TWO schema
    //     ids (v2 adds a column — additive evolution), a file stream
    //     consumes it one file per micro-batch (each batch = one
    //     flush/ack boundary), payloads decode against the registry,
    //     conform to the evolved schema, land in the sink; a SECOND
    //     run on the same checkpoint replays nothing (offset-commit
    //     semantics). Oracle replays the whole chain from events ----
    Gate("q_kafka_envelope_e2e", (s, dir) => {
      import graft.streaming.{Envelope, StreamingIngest}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tmp = tmpDir("graft_kenv")
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      // topic simulation: even event_ids arrive first as v1 payloads,
      // odd ones later as v2 (+src) — offsets are the event ids
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").as("offset"),
          Envelope.encode(1, to_json(struct(col("event_id"),
            col("event_type"), col("v_milli")))).as("envelope"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/topic")
      ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id").as("offset"),
          Envelope.encode(2, to_json(struct(col("event_id"),
            col("event_type"), col("v_milli"),
            lit("kafka2").as("src")))).as("envelope"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/topic")
      val topicSchema = s.read.parquet(s"$tmp/topic").schema
      val v1 = StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("v_milli", LongType)))
      val v2 = StructType(v1.fields :+ StructField("src", StringType))
      def conformedStream = {
        val stream = StreamingIngest.readFileStream(s, topicSchema,
          s"$tmp/topic", maxFilesPerTrigger = Some(1))
        Envelope.decode(stream, "envelope", Map(1 -> v1, 2 -> v2))
          .select(col("offset"), col("schema_id"),
            coalesce(col("decoded_1.event_id"), col("decoded_2.event_id")).as("event_id"),
            coalesce(col("decoded_1.event_type"), col("decoded_2.event_type")).as("event_type"),
            coalesce(col("decoded_1.v_milli"), col("decoded_2.v_milli")).as("v_milli"),
            col("decoded_2.src").as("src")) // additive: null before v2
      }
      StreamingIngest.runAvailableNow(conformedStream, s"$tmp/out", s"$tmp/ck")
      val afterFirst = s.read.parquet(s"$tmp/out").count()
      // same checkpoint: the commit log holds the consumed offsets —
      // the rerun must process zero new data
      StreamingIngest.runAvailableNow(conformedStream, s"$tmp/out", s"$tmp/ck")
      val afterSecond = s.read.parquet(s"$tmp/out").count()
      require(afterFirst == afterSecond,
        s"checkpoint replay duplicated rows: $afterFirst -> $afterSecond")
      s.read.parquet(s"$tmp/out")
        .groupBy(col("schema_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v_milli")).as("sum_v_milli"),
          sum(when(col("src").isNull, 1L).otherwise(0L)).as("n_legacy"),
          max(col("offset")).as("max_offset"))
        .orderBy(col("schema_id"), col("event_type"))
    },
      """SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER)
        |    AS schema_id,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  max(event_id) AS max_offset
        |FROM events GROUP BY 1, 2 ORDER BY schema_id, event_type""".stripMargin),

    // --- copy-time schema parity guard (ref gobblin-data-management
    //     AvroSchemaCheckDefaultStrategy.java:34-105,
    //     SchemaCheckedCopySource): per event type, a REAL dataset dir
    //     gets one conforming file and one variant file (click/error:
    //     renamed column; signup: int-narrowed column; rest: both
    //     conforming); footer schemas are checked executor-side
    //     against the expected StructType. Oracle restates the
    //     verdict matrix -----------------------------------------
    Gate("q_schema_parity", (s, dir) => {
      import graft.quality.SchemaCheck
      val tmp = tmpDir("graft_schemacheck")
      val events = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val types = events.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      val expected = events.schema
      // per-type units are independent (separate dirs) — overlap the
      // write jobs from a thread pool so each job's task tail
      // back-fills the cores instead of serializing 2x|types| jobs;
      // within a type the two appends to one dir stay sequential
      // (concurrent appends to one path race on _temporary)
      val rows = fanOut(types.toSeq, maxThreads = 5) { tp =>
        val d = s"$tmp/$tp"
        val part = events.filter(col("event_type") === tp)
        part.coalesce(1).write.mode("append").parquet(d)
        val variant = tp match {
          case "click" | "error" => part.withColumnRenamed("value", "amount")
          case "signup" => part.withColumn("event_id",
            col("event_id").cast("int"))
          case _ => part
        }
        variant.coalesce(1).write.mode("append").parquet(d)
        val checks = SchemaCheck.checkParquetTree(s, d, expected)
        (tp, checks.size.toLong, checks.count(_.ok).toLong)
      }
      import s.implicits._
      rows.toDF("event_type", "n_files", "n_ok")
        .orderBy(col("event_type"))
    },
      """SELECT event_type, CAST(2 AS BIGINT) AS n_files,
        |  CASE WHEN event_type IN ('click', 'error', 'signup')
        |       THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS n_ok
        |FROM (SELECT DISTINCT event_type FROM events)
        |ORDER BY event_type""".stripMargin),

    // --- dataset metadata envelope (ref gobblin-modules/
    //     gobblin-metadata: GlobalMetadata.java, Collector, JsonMerger):
    //     per event type, a REAL two-file parquet write, per-file
    //     record counts recovered from footers executor-side, folded
    //     through the collector (defaults merge + by-id dedup) and the
    //     json merger into Num-Records/Num-Files totals. The oracle
    //     recomputes every total from the events table ---------------
    Gate("q_global_metadata", (s, dir) => {
      import graft.sink.DatasetMetadata
      import graft.sink.DatasetMetadata._
      val tmp = tmpDir("graft_meta")
      val events = t(s, dir, "events")
      // event types are a bounded enum (5 values): driver metadata
      val types = events.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      val defaults = empty.withDatasetList(TransferEncodingKey, Seq("gzip"))
      // same per-type independence as q_schema_parity: overlap the
      // 2x|types| tiny write jobs (jobs stay identical, just concurrent)
      val rows = fanOut(types.toSeq, maxThreads = 5) { tp =>
        val d = s"$tmp/$tp"
        val part = events.filter(col("event_type") === tp)
        // two deterministic halves -> two files in one dataset dir
        Seq(0, 1).foreach { half =>
          part.filter(pmod(col("event_id"), lit(2)) === half)
            .coalesce(1).write.mode("append").parquet(d)
        }
        val metrics = DatasetMetadata.parquetFileMetrics(s, d)
        val own = {
          val base = empty
            .withDataset(DatasetUrnKey, s"urn:events:$tp")
            .withDataset(ContentTypeKey, "application/x-parquet")
          if (tp == "click" || tp == "error")
            base.withDatasetList(TransferEncodingKey, Seq("aes_rotating"))
          else base
        }
        val collector = new Collector(default = Some(defaults))
        // upstream re-sends the same metadata; only one admission
        val admissions = Seq(collector.process(Some(own)),
          collector.process(Some(own))).flatten
        val merger = new JsonMerger
        admissions.foreach(m => merger.update(m.toJson))
        merger.updateFiles(metrics)
        val m = merger.mergedMeta
        (tp, m.numFiles.toLong, m.numRecords,
          metrics.map(_._2).sorted.mkString(","),
          m.transferEncoding.getOrElse(Nil).mkString(","),
          admissions.size.toLong)
      }
      import s.implicits._
      rows.toDF("event_type", "num_files", "num_records",
        "file_counts", "transfer_encoding", "n_admitted")
        .orderBy(col("event_type"))
    },
      """WITH c AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n0
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  CAST(2 AS BIGINT) AS num_files,
        |  n AS num_records,
        |  CAST(least(n0, n - n0) AS VARCHAR) || ',' ||
        |    CAST(greatest(n0, n - n0) AS VARCHAR) AS file_counts,
        |  CASE WHEN event_type IN ('click', 'error')
        |       THEN 'aes_rotating,gzip' ELSE 'gzip' END AS transfer_encoding,
        |  CAST(1 AS BIGINT) AS n_admitted
        |FROM c ORDER BY event_type""".stripMargin),

    // --- multi-format writer/source round-trip (the reference's
    //     writer.output.format matrix: CSV/JSON/ORC writers + the
    //     matching extractors): the same exact-typed slice of events
    //     is written and re-read in each format and aggregated — a
    //     format that drops or mangles a value breaks its row --------
    Gate("q_format_roundtrip", (s, dir) => {
      val slice = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val out = tmpDir("q_format_roundtrip")
      val parts = Seq("csv", "json", "orc").map { fmt =>
        val w = slice.write.mode("overwrite")
        (fmt match {
          // exact CSV round-trip: no write-side whitespace trimming,
          // and a null sentinel distinct from the empty string so ""
          // values survive (the reader's default nullValue is "")
          case "csv" => w.option("header", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", "\\N")
          case _ => w
        }).format(fmt).save(s"$out/$fmt")
        val r = s.read
        val back = (fmt match {
          case "csv" => r.option("header", "true")
            .option("nullValue", "\\N")
            .schema(slice.schema).format(fmt)
          case _ => r.schema(slice.schema).format(fmt)
        }).load(s"$out/$fmt")
        back.agg(
            count(lit(1)).as("n"),
            sum(col("v_milli")).as("sum_v_milli"),
            countDistinct(col("event_type")).as("n_types"))
          .select(lit(fmt).as("format"), col("n"), col("sum_v_milli"),
            col("n_types"))
      }
      parts.reduce(_.unionByName(_)).orderBy(col("format"))
    },
      // a lossless round-trip means each format row carries the SAME
      // aggregate of the source slice
      """SELECT f.format, a.n, a.sum_v_milli, a.n_types
        |FROM (SELECT count(*) AS n,
        |        CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |          AS sum_v_milli,
        |        count(DISTINCT event_type) AS n_types
        |      FROM events) a
        |CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(format)
        |ORDER BY f.format""".stripMargin),

    // --- funnel / ordered-sequence matching (operators/Funnel.scala —
    //     the MATCH_RECOGNIZE capability): greedy-earliest
    //     view -> click -> purchase per user with a 24 h step gap.
    //     The oracle replays each anchor with correlated min-joins ----
    Gate("q_funnel", (s, dir) => {
      import graft.operators.Funnel
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
      Funnel.funnel(ev, "user_id", "event_type", "ms",
          steps = Seq("view", "click", "purchase"), maxGapMs = 86400000L)
        .orderBy(col("user_id"))
    },
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000 AS ms FROM events),
        |s1 AS (
        |  SELECT user_id, min(ms) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ms > t1 AND ms <= t1 + 86400000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(ms) AS t3 FROM ev e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ms > t2 AND ms <= t2 + 86400000
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t1, t2, t3,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_steps
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // --- CUBE / grouping-sets rollup (the OLAP face of the rollup
    //     writer): pricing by returnflag x linestatus with all
    //     subtotal planes; null dims sentineled so both engines sort
    //     and hash identically ---------------------------------------
    Gate("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),

    // --- GPG file codec (functions/Pgp.scala): documents encrypted by
    //     the REAL gpg binary (AES-256, per-doc passphrases, gpg's
    //     default compression), decrypted on executors by the pure-JCE
    //     RFC 4880 implementation through the binaryFile source. The
    //     fixture prep shells to gpg over ~20 docs (driver-side,
    //     count-bounded); the oracle is the original plaintext -------
    Gate("q_gpg_roundtrip", (s, dir) => {
      import graft.functions.PgpDecrypt
      // COUNT-BOUNDED fixture set (doc_id < 500 pins the same 20 docs
      // at every SF — subprocess fixture prep must not scale with data)
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .select(col("doc_id"), col("text")).collect()
      val tmp = java.nio.file.Files.createTempDirectory("q_gpg")
      val enc = tmp.resolve("enc"); java.nio.file.Files.createDirectories(enc)
      // the 20 encrypts are independent subprocesses; run them
      // concurrently (the sequential loop serialized ~20 process
      // spawns and dominated this gate's wall clock)
      def encryptOne(r: org.apache.spark.sql.Row): Unit = {
        val id = r.getLong(0)
        val pt = tmp.resolve(s"$id.txt")
        java.nio.file.Files.write(pt, r.getString(1).getBytes("UTF-8"))
        // --force-mdc pins SEIPD v1 (MDC) output: gpg 2.3+/2.4 would
        // otherwise emit AEAD/OCB symmetric packets the pure-JCE
        // decoder deliberately does not speak (no-op on gpg 2.2)
        val rc = new ProcessBuilder("gpg", "--batch", "--yes", "--force-mdc",
            "--symmetric",
            "--cipher-algo", "AES256", "--passphrase", s"graft|$id",
            "-o", enc.resolve(s"$id.gpg").toString, pt.toString)
          .redirectErrorStream(true).start().waitFor()
        require(rc == 0, s"gpg encrypt failed for doc $id (rc=$rc)")
      }
      // first encrypt runs ALONE: on a box where ~/.gnupg / gpg-agent
      // has never been initialized, concurrent first-use spawns race
      // on keyring/agent-socket creation and flake — warm it once,
      // then fan out the independent rest
      docs.headOption.foreach(encryptOne)
      val rest = docs.drop(1)
      fanOut(rest.toSeq, maxThreads = 10)(encryptOne)
      s.read.format("binaryFile").load(s"$enc/*.gpg")
        .select(regexp_extract(col("path"), "(\\d+)\\.gpg$", 1)
          .cast("long").as("doc_id"), col("content"))
        .select(col("doc_id"),
          PgpDecrypt(col("content"), concat(lit("graft|"), col("doc_id")))
            .cast("string").as("text"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, text FROM documents
        |WHERE ((doc_id % 25) + 25) % 25 = 0 AND doc_id < 500
        |ORDER BY doc_id""".stripMargin),

    // --- RFC 9580 AEAD codec (Pgp.encryptAead/decrypt + OpenPgpAead):
    //     the same count-bounded fixture docs, encrypted as SKESK v6 +
    //     SEIPD v2 with per-doc AEAD mode (OCB / EAX / GCM round-robin,
    //     64-byte chunks so every doc spans many chunks), decrypted on
    //     executors through the SAME PgpDecrypt expression as the v1
    //     gate — one codec, both wire formats. gpg 2.2.40 here has
    //     AEAD compiled out, so the foreign anchor for OCB is the
    //     pinned pyca/cryptography vectors in PgpSpec ----------------
    Gate("q_gpg_aead", (s, dir) => {
      import graft.functions.{Pgp, PgpDecrypt}
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .select(col("doc_id"), col("text")).collect()
      val tmp = java.nio.file.Files.createTempDirectory("q_gpg_aead")
      val enc = tmp.resolve("enc"); java.nio.file.Files.createDirectories(enc)
      docs.foreach { r =>
        val id = r.getLong(0)
        val aead = (id / 25 % 3 + 1).toInt // 1=EAX, 2=OCB, 3=GCM
        java.nio.file.Files.write(enc.resolve(s"$id.gpg"),
          Pgp.encryptAead(r.getString(1).getBytes("UTF-8"), s"graft|$id",
            aeadAlgo = aead, chunkSizeOctet = 0))
      }
      s.read.format("binaryFile").load(s"$enc/*.gpg")
        .select(regexp_extract(col("path"), "(\\d+)\\.gpg$", 1)
          .cast("long").as("doc_id"), col("content"))
        .select(col("doc_id"),
          PgpDecrypt(col("content"), concat(lit("graft|"), col("doc_id")))
            .cast("string").as("text"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, text FROM documents
        |WHERE ((doc_id % 25) + 25) % 25 = 0 AND doc_id < 500
        |ORDER BY doc_id""".stripMargin),

    // --- public-key GPG codec (Pgp.encryptPk/decryptPk/PgpPkDecrypt):
    //     a throwaway RSA pair is generated BY THE REAL gpg binary,
    //     documents are encrypted with `gpg --encrypt -r`, and the
    //     executors decrypt through the pure-JCE PKESK path with the
    //     exported (unprotected) secret keyring. Same count-bounded
    //     fixture discipline as q_gpg_roundtrip -----------------------
    Gate("q_gpg_pubkey", (s, dir) => {
      import graft.functions.PgpPkDecrypt
      def sh(cmd: String*): Int = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start().waitFor()
      val tmp = java.nio.file.Files.createTempDirectory("q_gpg_pubkey")
      val home = tmp.resolve("gnupg")
      java.nio.file.Files.createDirectories(home)
      java.nio.file.Files.setPosixFilePermissions(home,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      val params = home.resolve("params")
      java.nio.file.Files.writeString(params,
        """%no-protection
          |Key-Type: RSA
          |Key-Length: 2048
          |Subkey-Type: RSA
          |Subkey-Length: 2048
          |Name-Real: Graft Gate
          |Name-Email: gate@graft
          |Expire-Date: 0
          |%commit
          |""".stripMargin)
      require(sh("gpg", "--homedir", home.toString, "--batch", "--gen-key",
        params.toString) == 0, "gpg key generation failed")
      // -o must precede the --export command (gpg treats trailing args
      // as key names and would dump the ring to stdout)
      require(sh("gpg", "--homedir", home.toString, "--batch", "--yes",
        "-o", home.resolve("sec.gpg").toString,
        "--export-secret-keys", "gate@graft") == 0, "gpg secret export failed")
      val sec = java.nio.file.Files.readAllBytes(home.resolve("sec.gpg"))
      // COUNT-BOUNDED fixture set (same 20 docs at every SF)
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .select(col("doc_id"), col("text")).collect()
      val enc = tmp.resolve("enc"); java.nio.file.Files.createDirectories(enc)
      docs.foreach { r =>
        val id = r.getLong(0)
        val pt = tmp.resolve(s"$id.txt")
        java.nio.file.Files.write(pt, r.getString(1).getBytes("UTF-8"))
        require(sh("gpg", "--homedir", home.toString, "--batch", "--yes",
          "--force-mdc", "--trust-model", "always", "-r", "gate@graft",
          "-o", enc.resolve(s"$id.gpg").toString, "--encrypt",
          pt.toString) == 0, s"gpg encrypt failed for doc $id")
      }
      // each per-run temp homedir spawns its OWN gpg-agent; left
      // running they accumulate across rounds until the user's
      // inotify-instance limit kills unrelated tooling (observed: 82
      // stale agents). Decryption below is pure-JCE — the agent is
      // fixture-only, kill it with the fixture.
      sh("gpgconf", "--homedir", home.toString, "--kill", "gpg-agent")
      s.read.format("binaryFile").load(s"$enc/*.gpg")
        .select(regexp_extract(col("path"), "(\\d+)\\.gpg$", 1)
          .cast("long").as("doc_id"), col("content"))
        .select(col("doc_id"),
          PgpPkDecrypt(col("content"), lit(sec)).cast("string").as("text"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, text FROM documents
        |WHERE ((doc_id % 25) + 25) % 25 = 0 AND doc_id < 500
        |ORDER BY doc_id""".stripMargin),

    // --- multi-tenant dag scheduling: 8 diamond dags through 3
    //     executor slots under user quota 2 / group quota 3, with
    //     retries, a permanent failure under each failure option, an
    //     SLA kill, and a launch-time quota failure. The oracle
    //     replays the synchronous-update transition rule tick for
    //     tick in a recursive CTE and derives the identical event
    //     trace from the state transitions ---------------------------
    Gate("q_dag_schedule", (s, dir) => {
      import graft.runner.DagScheduler
      DagScheduler.scheduleDF(s, dagWorkload(s, dir),
          DagScheduler.SchedulerConfig(slots = 3, userQuota = 2,
            groupQuota = 3, horizon = 40))
        .orderBy(col("tick"), col("dag"), col("task"), col("event"))
    }, """
      WITH RECURSIVE tasks AS (
        SELECT 'dag' || CAST(k AS VARCHAR) AS dag, tt.task,
               'u' || CAST(k % 3 AS VARCHAR) AS usr,
               'g' || CAST(k % 2 AS VARCHAR) AS grp,
               tt.deps,
               CAST(CASE WHEN k = 4 AND tt.task = 'a' THEN 4
                         ELSE 1 + (k + tt.pos) % 2 END AS BIGINT) AS dur,
               CAST(CASE WHEN tt.task = 'b' AND k % 4 = 1 THEN 1
                         WHEN tt.task = 'b' AND k % 4 = 3 THEN 9
                         WHEN tt.task = 'c' AND k % 4 = 2 THEN 9
                         ELSE 0 END AS BIGINT) AS fail_att,
               CAST(2 AS BIGINT) AS max_att,
               CAST(CASE WHEN k = 4 THEN 0 ELSE k % 3 END AS BIGINT) AS submit,
               CAST(CASE WHEN k = 4 THEN 4 ELSE -1 END AS BIGINT) AS sla,
               CASE WHEN k % 2 = 0 THEN 'FINISH_RUNNING'
                    ELSE 'FINISH_ALL_POSSIBLE' END AS fopt
        FROM (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 8) n
        CROSS JOIN (VALUES ('a', CAST([] AS VARCHAR[]), 0),
                           ('b', ['a'], 1),
                           ('c', ['a'], 2),
                           ('d', ['b','c'], 3)) tt(task, deps, pos)
      ),
      sched AS (
        SELECT CAST(0 AS BIGINT) AS tick, dag, task, usr, grp, deps, dur,
               fail_att, max_att, submit, sla, fopt,
               'P' AS state, CAST(1 AS BIGINT) AS attempt,
               CAST(-1 AS BIGINT) AS end_tick
        FROM tasks
        UNION ALL
        SELECT nt, dag, task, usr, grp, deps, dur, fail_att, max_att,
               submit, sla, fopt,
               CASE WHEN completes THEN
                      (CASE WHEN attempt > fail_att THEN 'S'
                            WHEN attempt >= max_att THEN 'F'
                            ELSE 'P' END)
                    WHEN sla_hit THEN (CASE WHEN state = 'R' THEN 'K' ELSE 'C' END)
                    WHEN cancels THEN 'C'
                    WHEN started THEN 'R'
                    WHEN qfail THEN 'Q'
                    ELSE state END AS state,
               CASE WHEN completes AND attempt <= fail_att AND attempt < max_att
                    THEN attempt + 1 ELSE attempt END AS attempt,
               CASE WHEN completes AND attempt <= fail_att AND attempt < max_att
                      THEN -1
                    WHEN completes THEN end_tick
                    WHEN sla_hit OR cancels OR qfail THEN -1
                    WHEN started THEN nt + dur
                    ELSE end_tick END AS end_tick
        FROM (
          SELECT d.*,
                 launched AND (run_usr + u_rank <= 2)
                          AND (run_grp + g_rank <= 3) AS started,
                 launched AND NOT ((run_usr + u_rank <= 2)
                                   AND (run_grp + g_rank <= 3)) AS qfail
          FROM (
            SELECT c.*,
                   COUNT(*) FILTER (WHERE launched) OVER
                     (PARTITION BY usr ORDER BY submit, dag, task
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u_rank,
                   COUNT(*) FILTER (WHERE launched) OVER
                     (PARTITION BY grp ORDER BY submit, dag, task
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g_rank
            FROM (
              SELECT b.*,
                     is_cand AND run_tot + COUNT(*) FILTER (WHERE is_cand) OVER
                       (ORDER BY submit, dag, task
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       <= 3 AS launched
              FROM (
                SELECT a.*,
                       state = 'P' AND NOT sla_hit AND
                         (len(list_intersect(deps, dead_set)) > 0 OR
                          (fopt = 'FINISH_RUNNING' AND len(dead_set) > 0))
                         AS cancels,
                       state = 'P' AND NOT sla_hit AND
                         NOT (len(list_intersect(deps, dead_set)) > 0 OR
                              (fopt = 'FINISH_RUNNING' AND len(dead_set) > 0)) AND
                         submit <= nt AND list_has_all(succ_set, deps) AS is_cand
                FROM (
                  SELECT p.*, p.tick + 1 AS nt,
                         p.state = 'R' AND p.end_tick = p.tick + 1 AS completes,
                         NOT (p.state = 'R' AND p.end_tick = p.tick + 1)
                           AND p.sla >= 0 AND p.tick + 1 >= p.submit + p.sla
                           AND p.state IN ('P','R') AS sla_hit,
                         COALESCE(list(p.task) FILTER (WHERE p.state = 'S')
                           OVER (PARTITION BY p.dag), []) AS succ_set,
                         COALESCE(list(p.task)
                             FILTER (WHERE p.state IN ('F','Q','C','K'))
                           OVER (PARTITION BY p.dag), []) AS dead_set,
                         COUNT(*) FILTER (WHERE p.state = 'R') OVER () AS run_tot,
                         COUNT(*) FILTER (WHERE p.state = 'R')
                           OVER (PARTITION BY p.usr) AS run_usr,
                         COUNT(*) FILTER (WHERE p.state = 'R')
                           OVER (PARTITION BY p.grp) AS run_grp
                  FROM sched p
                ) a
              ) b
            ) c
          ) d
        )
        WHERE nt <= 40
      )
      SELECT tick, dag, task,
             CASE WHEN pstate = 'R' AND state = 'P' THEN pattempt
                  ELSE attempt END AS attempt,
             CASE WHEN pstate = 'P' AND state = 'R' THEN 'start'
                  WHEN pstate = 'R' AND state = 'S' THEN 'success'
                  WHEN pstate = 'R' AND state = 'F' THEN 'fail'
                  WHEN pstate = 'R' AND state = 'P' THEN 'fail'
                  WHEN pstate = 'P' AND state = 'Q' THEN 'quota_fail'
                  WHEN pstate = 'P' AND state = 'C' THEN 'cancelled'
                  WHEN pstate = 'R' AND state = 'K' THEN 'sla_kill' END AS event
      FROM (SELECT tick, dag, task, state, attempt,
                   lag(state) OVER w AS pstate, lag(attempt) OVER w AS pattempt
            FROM sched WINDOW w AS (PARTITION BY dag, task ORDER BY tick))
      WHERE pstate IS NOT NULL AND pstate <> state
      ORDER BY tick, dag, task, event
    """),

    // --- Avro reader-schema RESOLUTION (the Avro spec's evolution
    //     contract): epoch-1 files carry an OLD schema (no lang
    //     column, int score, plus a junk column the new schema
    //     dropped); epoch-2 files the NEW one. Reading BOTH under the
    //     new reader schema must default-fill lang, promote int->long,
    //     and skip the dropped field — one frame, one schema. The
    //     oracle restates the resolved values from the source table --
    Gate("q_avro_evolution", (s, dir) => {
      import graft.sources.AvroFiles
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_avro_evo").toString
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val v1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("int").as("score"),
          lit("dropped-by-v2").as("junk"))
      AvroFiles.write(v1, s"$tmp/epoch1")
      val v2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("score"), col("lang"))
      AvroFiles.write(v2, s"$tmp/epoch2")
      val readerJson = AvroFiles.avroSchema(v2.schema).toString
      AvroFiles.read(s, s"$tmp/epoch1", Some(readerJson))
        .unionByName(AvroFiles.read(s, s"$tmp/epoch2", Some(readerJson)))
        .select(col("doc_id"), col("score"),
          coalesce(col("lang"), lit("unknown")).as("lang"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS score,
        |  CASE WHEN doc_id % 2 = 0 THEN 'unknown' ELSE lang END AS lang,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),

    // --- JDBC state store (graft.state.JdbcStateStore, the
    //     reference's MysqlStateStore shape): put / transactional
    //     upsert / delete / listKeys against an embedded Derby, with
    //     the oracle replaying the final store contents from the id
    //     arithmetic. Rows here are per-dataset METADATA — the store
    //     is config-sized by design --------------------------------
    Gate("q_state_store", (s, dir) => {
      import s.implicits._
      import graft.state.JdbcStateStore
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200)
        .as[Long].collect().sorted
      val url = "jdbc:derby:memory:gst" +
        java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
      val store = new JdbcStateStore(url).init()
      ids.foreach { id =>
        store.put(s"s${id % 3}", s"t$id",
          Map("watermark" -> (id * 7).toString, "run" -> "1"))
      }
      ids.filter(_ % 4 == 0).foreach { id => // upsert path
        store.put(s"s${id % 3}", s"t$id",
          Map("watermark" -> (id * 7 + 1).toString, "run" -> "2"))
      }
      ids.filter(_ % 10 == 9).foreach(id => store.delete(s"s${id % 3}", s"t$id"))
      val rows = (0 until 3).flatMap { g =>
        val st = s"s$g"
        store.listKeys(st).map { k =>
          val m = store.get(st, k).getOrElse(sys.error(s"listed key $k missing"))
          (st, k, m("watermark").toLong, m("run").toLong)
        }
      }
      rows.toDF("store_name", "key", "watermark", "run")
        .orderBy(col("store_name"), col("key"))
    },
      """WITH d AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id < 200 AND doc_id % 10 != 9)
        |SELECT 's' || CAST(doc_id % 3 AS VARCHAR) AS store_name,
        |  't' || CAST(doc_id AS VARCHAR) AS key,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id * 7 + 1
        |            ELSE doc_id * 7 END AS BIGINT) AS watermark,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS BIGINT) AS run
        |FROM d ORDER BY store_name, key""".stripMargin),

    // --- Metric wire formats (graft.metrics.Reporters): corpus
    //     aggregates rendered as Graphite plaintext and InfluxDB line
    //     protocol by pure codegen'd column chains (no UDF, no driver
    //     loop); the oracle rebuilds every line with string concat in
    //     SQL. Escaping edge cases are spec-pinned ------------------
    Gate("q_metrics_wire", (s, dir) => {
      import graft.metrics.Reporters
      val m = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("double").as("docs"),
          sum(col("n_chars")).as("total_chars"))
      val g = Reporters.graphiteLines(
        m.withColumn("metric", lit("docs")),
        "graft.corpus", Seq("source", "lang", "metric"), "docs",
        tsSeconds = 1723766400L)
      val i = Reporters.influxLines(m, "corpus_stats",
        tagCols = Seq("source", "lang"),
        longFields = Seq("total_chars"), doubleFields = Seq("docs"),
        tsMillis = 1723766400000L)
      g.toDF().withColumn("proto", lit("graphite"))
        .union(i.toDF().withColumn("proto", lit("influx")))
        .select(col("proto"), col("line"))
        .orderBy(col("proto"), col("line"))
    },
      """WITH m AS (
        |  SELECT source, lang, COUNT(*) AS docs,
        |    SUM(n_chars) AS total_chars
        |  FROM documents GROUP BY source, lang),
        |g AS (
        |  SELECT 'graphite' AS proto,
        |    'graft.corpus.' ||
        |    regexp_replace(source, '[^A-Za-z0-9_-]', '_', 'g') || '.' ||
        |    regexp_replace(lang, '[^A-Za-z0-9_-]', '_', 'g') ||
        |    '.docs ' || printf('%.4f', CAST(docs AS DOUBLE)) ||
        |    ' 1723766400' AS line
        |  FROM m),
        |i AS (
        |  SELECT 'influx' AS proto,
        |    'corpus_stats,source=' || source || ',lang=' || lang ||
        |    ' total_chars=' || CAST(total_chars AS VARCHAR) || 'i,docs=' ||
        |    printf('%.4f', CAST(docs AS DOUBLE)) ||
        |    ' 1723766400000000000' AS line
        |  FROM m)
        |SELECT proto, line FROM g
        |UNION ALL SELECT proto, line FROM i
        |ORDER BY proto, line""".stripMargin),

    // --- Avro logical DECIMAL round-trip (AvroFiles): money columns
    //     cast to DECIMAL, written as bytes+decimal(p,s) logical
    //     type, read back as DecimalType and aggregated with EXACT
    //     decimal arithmetic (cast DOUBLE only at the very end, the
    //     oracle-parity discipline every money gate uses) ------------
    Gate("q_decimal_roundtrip", (s, dir) => {
      import graft.sources.AvroFiles
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_decimal").toString
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").cast("long").as("k"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"),
        col("l_discount").cast("decimal(4,2)").as("disc"))
      AvroFiles.write(li, s"$tmp/a")
      val back = AvroFiles.read(s, s"$tmp/a")
      back.groupBy(pmod(col("k"), lit(7)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("sum_price"),
          sum(col("price") *
            (lit(1).cast("decimal(4,2)") - col("disc")))
            .cast("double").as("sum_disc_price"))
        .orderBy(col("g"))
    },
      """SELECT l_orderkey % 7 AS g, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}

/** Per-JVM fake external stores for the sink/delete gates. local[*]
  * executors share the driver JVM, so the driver reads back what
  * executor tasks wrote — a deliberately test-shaped transport (same
  * honest-fake pattern as RestSource.DeterministicFeed and
  * Multimodal.FakeDecoder); production clients implement the same
  * BatchWriter/DeleteClient traits over a real service.
  */
private[graft] object GateStores {
  import java.util.concurrent.ConcurrentHashMap
  import scala.jdk.CollectionConverters._

  private val upserts =
    new ConcurrentHashMap[String, ConcurrentHashMap[Long, (String, Long)]]()
  private val objects = new ConcurrentHashMap[String, java.util.Set[String]]()
  private val failedOnce = ConcurrentHashMap.newKeySet[String]()

  /** Keyed upsert sink: at-least-once delivery + idempotent puts =
    * exactly-once contents. The FIRST batch of each run throws once
    * before writing anything, so the retry path must re-deliver it.
    */
  final class UpsertWriter(runId: String) extends graft.sink.ClientSink.BatchWriter {
    def writeBatch(rows: Seq[org.apache.spark.sql.Row]): Unit = {
      if (failedOnce.add(runId)) throw new java.io.IOException("transient sink failure")
      val m = upserts.computeIfAbsent(runId,
        _ => new ConcurrentHashMap[Long, (String, Long)]())
      rows.foreach(r => m.put(r.getLong(0), (r.getString(1), r.getLong(2))))
    }
  }

  def upsertContents(runId: String): Map[Long, (String, Long)] =
    Option(upserts.get(runId)).map(_.asScala.toMap).getOrElse(Map.empty)

  def putObject(runId: String, key: String): Unit =
    objects.computeIfAbsent(runId, _ => ConcurrentHashMap.newKeySet[String]()).add(key)

  def objectKeys(runId: String): Seq[String] =
    Option(objects.get(runId)).map(_.asScala.toSeq.sorted).getOrElse(Seq.empty)

  final class MapDeleteClient(runId: String)
    extends graft.operators.ObjectStoreDelete.DeleteClient {
    def deleteBatch(keys: Seq[String]): Seq[String] = {
      val set = objects.get(runId)
      keys.filter(k => set != null && set.remove(k))
    }
  }
}
