package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Converters, Sessionize}
import graft.sink.{CommitSequence, Publisher, SinkSpec}
import graft.state.FsStateStore
import graft.streaming.SchemaEvolution

import Fixtures._
import GovernanceGates.{Garble, classifierOracle}
import RetrievalGates.{QueryIdBound, bm25Ctes}

/** Incremental and streaming gates: CDC/SCD2 and rollup maintenance,
  * declarative incremental job types, versioned commits and the
  * file-stream / foreachBatch maintenance paths.
  */
object IncrementalGates {

  /** Shared IVF oracle CTE block parameterized by the SEED POPULATION
    * (the frozen-codebook jobs fit centroids from the first epoch /
    * first batch only): seeds by md5('ivf|'+id) within `seedWhere`,
    * cid ascending by vec_id, argmax-dot assignment of the FULL
    * corpus, nProbe probe lists for `probeMod` queries, exact-cosine
    * top-k — mirrors OracleSql.annIvf with a restricted quantizer fit.
    */
  private def frozenIvfSearch(seedWhere: String, seedExpr: String,
      nCentroids: Int, nProbe: Int, k: Int, probeMod: Int): String =
    s"""WITH seeds AS (
       |  SELECT vec_id, $seedExpr AS e FROM embeddings
       |  WHERE $seedWhere
       |  ORDER BY md5('ivf' || '|' || vec_id), vec_id LIMIT $nCentroids
       |), cents AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, e
       |  FROM seeds
       |), scored AS (
       |  SELECT v.vec_id, c.cid,
       |    list_dot_product(CAST(v.embedding AS DOUBLE[]), c.e) AS dot
       |  FROM embeddings v CROSS JOIN cents c
       |), assign AS (
       |  SELECT vec_id, cid FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) = 1
       |), plists AS (
       |  SELECT vec_id, cid FROM scored WHERE vec_id % $probeMod = 0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) <= $nProbe
       |), vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), cand AS (
       |  SELECT p.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    list_dot_product(a.e, b.e)
       |      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
       |      AS sim
       |  FROM plists p JOIN assign v ON p.cid = v.cid AND p.vec_id <> v.vec_id
       |  JOIN vecs a ON a.vec_id = p.vec_id
       |  JOIN vecs b ON b.vec_id = v.vec_id
       |)
       |SELECT query_id, neighbor_id, sim FROM cand
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $k
       |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // --- sessionization (streaming-state analog, batch form) ----------
    // --- streaming end-to-end (§2.8): a REAL Structured Streaming
    //     query over the events table — file stream -> watermark ->
    //     1h tumbling window agg -> append-mode parquet sink, run to
    //     completion with Trigger.AvailableNow. Append mode emits
    //     exactly the windows the final watermark (max event time,
    //     0s delay, ms precision) has closed; the oracle replays that
    //     cutoff in integer arithmetic. sum rides on floor(value*1000)
    //     longs: order-independent, bit-exact cross-engine ------------
    Gate("q_stream_window_counts", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
      val src = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(src).schema // ts as nanos long
      // the file-stream source wants a DIRECTORY to watch
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_in")
      copyRaw(s, src, inDir, "events.parquet")
      val stream = StreamingIngest.readFileStream(s, rawSchema, inDir.toString)
        .withColumn("ts", expr(Tables.tsExpr(rawSchema("ts").dataType)))
      val agg = stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_v_milli"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_wc").toString
      StreamingIngest.runAvailableNow(agg, s"$tmp/data", s"$tmp/ck")
      s.read.parquet(s"$tmp/data")
        .orderBy(col("window_start"), col("event_type"))
      }
    },
      // the final watermark is max event time (ms precision, 0s
      // delay); append mode emitted exactly the windows whose end <=
      // that watermark. time_bucket is epoch-aligned like Spark's
      // window(); the sum is over exact longs.
      """WITH mx AS (
        |  SELECT epoch_us(max(ts)) // 1000 AS max_ms FROM events
        |), agg AS (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        |    event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT window_start, event_type, n, sum_v_milli FROM agg, mx
        |WHERE epoch_ms(CAST(window_start AS TIMESTAMP) + INTERVAL 1 HOUR) <= max_ms
        |ORDER BY window_start, event_type""".stripMargin),

    // --- streaming stateful dedup across micro-batches: the SAME
    //     events file staged twice, maxFilesPerTrigger=1 so the copies
    //     arrive in separate micro-batches, dropDuplicates state (TTL
    //     via watermark) suppresses the replay — output is each event
    //     exactly once. The streaming face of compaction dedup -------
    Gate("q_stream_dedup", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
      val src = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(src).schema
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_dd")
      copyRaw(s, src, inDir, "a.parquet")
      copyRaw(s, src, inDir, "b.parquet")
      val stream = StreamingIngest
        .readFileStream(s, rawSchema, inDir.toString, maxFilesPerTrigger = Some(1))
        .withColumn("ts", expr(Tables.tsExpr(rawSchema("ts").dataType)))
      val dd = StreamingIngest.streamingDedup(stream, "ts", "1 hour", Seq("event_id"))
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_dd_out").toString
      StreamingIngest.runAvailableNow(dd, s"$tmp/data", s"$tmp/ck")
      s.read.parquet(s"$tmp/data").orderBy(col("event_id"))
      }
    },
      // doubled input, exactly-once output: the oracle is one row per
      // event (the input had no duplicate event_ids to begin with)
      """SELECT event_id, event_type,
        |  CAST(floor(value * 1000) AS BIGINT) AS v_milli
        |FROM events ORDER BY event_id""".stripMargin),

    // --- streaming custom keyed state (mapGroupsWithState): the same
    //     events file twice in separate micro-batches; each key's
    //     FINAL emission must carry the running count across batches
    //     (= exactly 2x the per-user row count). foreachBatch appends
    //     each batch's emissions with its batch id; the last emission
    //     per key is the state proof ------------------------------------
    Gate("q_stream_running_totals", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
      val src = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(src).schema
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_rt")
      copyRaw(s, src, inDir, "a.parquet")
      copyRaw(s, src, inDir, "b.parquet")
      val stream = StreamingIngest
        .readFileStream(s, rawSchema, inDir.toString, maxFilesPerTrigger = Some(1))
      val totals = StreamingIngest.runningTotals(stream, "user_id", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_rt_out").toString
      val q = totals.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("_batch", lit(id))
            .write.mode("append").parquet(s"$tmp/data")
        }
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("_batch").desc)
      s.read.parquet(s"$tmp/data")
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("user_id"), col("running_count"))
        .orderBy(col("user_id"))
      }
    },
      // doubled input in two batches; final per-key state = 2x count
      """SELECT user_id, COUNT(*) * 2 AS running_count
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // --- streaming sessionization (native session_window + watermark):
    //     gap-merged per-user sessions; append mode emits exactly the
    //     sessions CLOSED by the final watermark (end <= max event
    //     time). Event times are ms-truncated on BOTH engines so the
    //     watermark cutoff has no sub-ms edge --------------------------
    Gate("q_stream_sessions", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
      val src = s"$dir/events.parquet"
      val rawSchema = s.read.parquet(src).schema
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_sess")
      copyRaw(s, src, inDir, "events.parquet")
      val stream = StreamingIngest.readFileStream(s, rawSchema, inDir.toString)
        .withColumn("ts", expr(Tables.tsMillisExpr(rawSchema("ts").dataType)))
      val agg = stream
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n"), col("v_milli"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_sess_out").toString
      StreamingIngest.runAvailableNow(agg, s"$tmp/data", s"$tmp/ck")
      s.read.parquet(s"$tmp/data")
        .orderBy(col("user_id"), col("session_start"))
      }
    },
      // gap sessionization replay: new session when the gap to the
      // previous event is >= 30 min (session_window's [t, t+gap)
      // overlap-merge boundary); end = last event + gap; append mode
      // emitted exactly the sessions with end <= the final watermark
      // (max ms-truncated event time, 0s delay)
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ms,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), mx AS (
        |  SELECT max(ms) AS max_ms FROM ev
        |), brk AS (
        |  SELECT user_id, ms, vm,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |           OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS b
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms)
        |), sess AS (
        |  SELECT user_id, ms, vm,
        |    SUM(b) OVER (PARTITION BY user_id ORDER BY ms
        |                 ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM brk
        |), agg AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms,
        |    COUNT(*) AS n, CAST(SUM(vm) AS BIGINT) AS v_milli
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT epoch_ms(start_ms) AS session_start, epoch_ms(end_ms) AS session_end,
        |  user_id, n, v_milli
        |FROM agg, mx WHERE end_ms <= max_ms
        |ORDER BY user_id, session_start""".stripMargin),

    Gate("q_sessionize", (s, dir) => {
      Sessionize.sessionize(t(s, dir, "events"), "user_id", "ts", "event_id",
          gapMicros = 1800L * 1000 * 1000)
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    // --- commit-sequence crash/resume (sink.CommitSequence; ref
    //     CommitSequencePublisher): publish A, crash before B, resume —
    //     A must be SKIPPED (recorded done), B published. The output is
    //     read back from the PUBLISHED directories; the action column
    //     carries the replay decision the oracle pins ------------------
    Gate("q_commit_sequence", (s, dir) => {
      val tmp = tmpDir("graft_cseq")
      val store = new FsStateStore(s"$tmp/state")
      val pub = new Publisher()
      val specA = SinkSpec(s"$tmp/stage/a", s"$tmp/out/a")
      val specB = SinkSpec(s"$tmp/stage/b", s"$tmp/out/b")
      pub.writeStaged(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice")), specA)
      pub.writeStaged(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")), specB)
      val seq = new CommitSequence(store)
      val datasets = Seq("a" -> specA, "b" -> specB)
      // run 1: simulated crash between the two publishes
      try {
        seq.run("job1", datasets, spec => {
          if (spec == specB) throw new RuntimeException("simulated crash before b")
          pub.publish(spec)
        })
        require(false, "crash did not propagate")
      } catch { case _: RuntimeException => }
      require(seq.completed("job1") == Seq("a"), "dataset a not recorded done after crash")
      // run 2: resume — a skipped, b published
      val results = seq.run("job1", datasets, pub.publish _)
      require(results.map(r => (r.dataset, r.action)) ==
        Seq(("a", "skipped"), ("b", "published")),
        s"unexpected resume actions: $results")
      val outA = s.read.parquet(s"$tmp/out/a")
        .agg(count(lit(1)).as("n_rows"), decSumDouble(col("o_totalprice")).as("sum_val"))
        .select(lit("a").as("dataset"), lit(results(0).action).as("action"),
          col("n_rows"), col("sum_val"))
      val outB = s.read.parquet(s"$tmp/out/b")
        .agg(count(lit(1)).as("n_rows"), decSumDouble(col("l_quantity")).as("sum_val"))
        .select(lit("b").as("dataset"), lit(results(1).action).as("action"),
          col("n_rows"), col("sum_val"))
      outA.unionByName(outB).orderBy(col("dataset"))
    },
      """SELECT 'a' AS dataset, 'skipped' AS action, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'b' AS dataset, 'published' AS action, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM lineitem
        |ORDER BY dataset""".stripMargin),

    // --- mid-stream schema evolution (streaming.SchemaEvolution; ref
    //     KafkaSchemaChangeInjector): batch 2 arrives with an ADDED
    //     column -> conform records the widened schema; later batches
    //     conformed against the widened target null-fill it. The gate
    //     unions the conformed batches and aggregates, so the widen +
    //     null-fill path feeds the checked numbers --------------------
    Gate("q_schema_evolve", (s, dir) => {
      val tmp = tmpDir("graft_schev")
      val store = new FsStateStore(s"$tmp/state")
      val target = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val ev = t(s, dir, "events")
      val b1 = ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val b2 = ev.filter(pmod(col("event_id"), lit(3)) === 1)
        .select(col("event_id"), col("event_type"), col("value"), col("user_id").as("extra"))
      val b3 = ev.filter(pmod(col("event_id"), lit(3)) === 2)
        .select(col("event_id"), col("event_type"), col("value"))
      // batch 2 against the original target: additive column -> output
      // conforms to target, widened schema recorded for restart
      SchemaEvolution.conform(b2, target, store, "ev")
      val widened = SchemaEvolution.loadSchema(store, "ev")
        .getOrElse(sys.error("widened schema not recorded"))
      require(widened.fieldNames.contains("extra") &&
        widened("extra").nullable, "recorded schema missing nullable extra column")
      // replay all batches against the widened target (the restart path)
      val conformed = Seq(b1, b2, b3)
        .map(b => SchemaEvolution.conform(b, widened, store, "ev"))
        .reduce(_.unionByName(_))
      conformed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("extra")).as("n_extra"),
          sum(vMilli).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(CASE WHEN event_id % 3 = 1 THEN 1 END) AS BIGINT) AS n_extra,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- stream-stream event-time interval join (5th streaming gate):
    //     clicks joined to same-user purchases within the following
    //     hour, both sides watermarked so join state is bounded; inner
    //     matches emit as they arrive, so the AvailableNow run's output
    //     equals the batch join the oracle computes (µs arithmetic on
    //     both engines) ------------------------------------------------
    Gate("q_stream_join", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val src = s"$dir/events.parquet"
        val rawSchema = s.read.parquet(src).schema
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_sj")
        copyRaw(s, src, inDir, "events.parquet")
        def stream = StreamingIngest.readFileStream(s, rawSchema, inDir.toString)
          .withColumn("ts", expr(Tables.tsExpr(rawSchema("ts").dataType)))
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("user_id_r"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"),
            floor(col("value") * 1000).cast("long").as("v_milli"))
        val joined = StreamingIngest.intervalJoin(clicks, purchases, "user_id",
            "click_ts", "purchase_ts", within = "1 hour")
          .select(col("user_id"), col("click_id"), col("purchase_id"), col("v_milli"))
        val tmp = java.nio.file.Files.createTempDirectory("q_stream_sj_out").toString
        StreamingIngest.runAvailableNow(joined, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      }
    },
      """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(floor(p.value * 1000) AS BIGINT) AS v_milli
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),

    // --- job lock (ref gobblin-runtime FileBasedJobLock.java:40):
    //     one run of a named job at a time — attempt 1 runs under the
    //     lock, attempt 2 is denied while a second holder has it,
    //     attempt 3 runs after release. n_rows is real work done
    //     under the lock --------------------------------------------
    Gate("q_job_lock", (s, dir) => {
      import graft.runner.JobLock
      import s.implicits._
      val dir0 = tmpDir("graft_joblock")
      val runner = new JobLock(dir0, "agg_job")
      val other = new JobLock(dir0, "agg_job")
      def runJob(): Long =
        t(s, dir, "events").filter(col("event_type") === "purchase").count()
      val r1 = runner.withLock(runJob())
      require(other.tryAcquire(), "second holder must acquire after release")
      val r2 = runner.withLock(runJob())
      require(r2.isEmpty, "run must be denied while the lock is held")
      other.release()
      val r3 = runner.withLock(runJob())
      Seq(
        (1, r1.isDefined, r1.getOrElse(0L)),
        (2, r2.isDefined, r2.getOrElse(0L)),
        (3, r3.isDefined, r3.getOrElse(0L)))
        .toDF("attempt", "acquired", "n_rows").orderBy(col("attempt"))
    },
      """WITH p AS (
        |  SELECT count(*) AS n FROM events WHERE event_type = 'purchase')
        |SELECT attempt, acquired, n_rows FROM (
        |  SELECT 1 AS attempt, true AS acquired, n AS n_rows FROM p
        |  UNION ALL SELECT 2, false, 0
        |  UNION ALL SELECT 3, true, n FROM p
        |) ORDER BY attempt""".stripMargin),

    // --- streaming exactly-once (6th streaming gate): foreachBatch
    //     ingest with atomic partition overwrite, run TWICE — the
    //     second run replays the whole stream from a fresh checkpoint
    //     (a crash that lost the checkpoint after publish). Counts
    //     must match a single batch pass: replay converges instead of
    //     duplicating. Oracle = the batch aggregation over events ----
    Gate("q_stream_exactly_once", (s, dir) => {
      import graft.state.FsStateStore
      import graft.streaming.StreamingIngest
      val tmp = tmpDir("graft_feb")
      val events = t(s, dir, "events")
      events.write.parquet(s"$tmp/in")
      val schema = s.read.parquet(s"$tmp/in").schema
      val store = new FsStateStore(s"$tmp/state")
      def runOnce(ckpt: String): Unit = {
        val stream = StreamingIngest.readFileStream(s, schema, s"$tmp/in")
        val q = StreamingIngest.ingestForeachBatch(stream, schema, store,
          "events_eo", ops = Seq(Converters.withTimePartition("ts")),
          stagingDir = s"$tmp/staging", outputDir = s"$tmp/out",
          partitionBy = Seq("date_key"))
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable(); q.stop()
      }
      runOnce(s"$tmp/ckpt1")
      runOnce(s"$tmp/ckpt2") // full replay, fresh checkpoint
      s.read.parquet(s"$tmp/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- streaming LM quality filter (7th streaming gate): the LM is
    //     fit OFFLINE on the clean en slice, then applied per
    //     micro-batch to a garble-planted document stream — score,
    //     filter against the floor, publish survivors. The offline-
    //     fit / online-apply split is the production shape for model-
    //     based stream filtering. Oracle replays LM + floor in batch -
    Gate("q_stream_quality", (s, dir) => {
      import graft.functions.NgramLm
      import graft.streaming.StreamingIngest
      val tmp = tmpDir("graft_streamlm")
      val docs = t(s, dir, "documents")
      docs.withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(Garble)))
            .otherwise(col("text")))
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(4).write.parquet(s"$tmp/in")
      val lm = NgramLm.train(docs.filter(col("lang") === "en"), "text")
      val schema = s.read.parquet(s"$tmp/in").schema
      val stream = StreamingIngest.readFileStream(s, schema, s"$tmp/in",
        maxFilesPerTrigger = Some(2)) // several micro-batches
      val q = stream.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          NgramLm.score(batch, "doc_id", "text", lm)
            .withColumnRenamed("id", "doc_id")
            .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .filter(col("hit_ratio") >= 0.9)
            .select(col("doc_id"), col("lang"))
            .write.mode("append").parquet(s"$tmp/out")
          ()
      }.option("checkpointLocation", s"$tmp/ckpt").start()
      q.processAllAvailable(); q.stop()
      s.read.parquet(s"$tmp/out")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_passed"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("lang"))
    },
      s"""WITH ${OracleSql.lmCtes(
        s"text || CASE WHEN doc_id % 7 = 0 THEN '${Garble}' ELSE '' END")},
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN coalesce(h.n_bigrams, 0) > 0
        |         THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / h.n_bigrams
        |    END AS hit_ratio
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT lang, count(*) AS n_passed,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM sc WHERE hit_ratio >= 0.9
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // --- SCD2 changelog merge (operators/Scd2.scala): orders as a CDC
    //     stream per customer (seq = orderkey, every 50th a delete),
    //     split at the half-way seq; dim built from the first half,
    //     the second half MERGED in — only touched keys recompute.
    //     The oracle recomputes the dimension from the FULL changelog,
    //     so a green row proves merge == full rebuild ----------------
    Gate("q_scd2_merge", (s, dir) => {
      import graft.operators.Scd2
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      // O(1) driver scalar: the split point, not data
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val dim = Scd2.fromChangelog(ch.filter(col("seq") <= split),
        "custkey", "seq", "op", Seq("price"))
      Scd2.merge(dim, ch.filter(col("seq") > split),
          "custkey", "seq", "op", Seq("price"))
        .orderBy(col("custkey"), col("valid_from"))
    },
      // full-changelog SCD2 rebuild: interval end = next seq for the
      // key (any op — a delete closes without emitting), open interval
      // iff no later entry
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin),

    // --- incremental rollup maintenance (operators/IncrementalRollup
    //     .scala): events split by id parity into two "days"; each is
    //     partially aggregated alone, the states merged, THEN
    //     finalized. Exact-long summaries make merge associative
    //     bit-for-bit; the oracle is the full GROUP BY over all
    //     events, so green == incremental maintenance is lossless ----
    Gate("q_incremental_rollup", (s, dir) => {
      import graft.operators.IncrementalRollup
      val dims = Seq("event_type", "bucket")
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        (col("user_id") % 10).as("bucket"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val day1 = IncrementalRollup.init(
        ev.filter(col("event_id") % 2 === 0), dims, "v_milli")
      val day2 = IncrementalRollup.init(
        ev.filter(col("event_id") % 2 =!= 0), dims, "v_milli")
      IncrementalRollup.finalizeState(
          IncrementalRollup.merge(day1, day2, dims), dims)
        .orderBy(col("event_type"), col("bucket"))
    },
      // the incremental path must equal one full GROUP BY over all
      // events — partial-aggregate algebra on exact longs
      """SELECT event_type, user_id % 10 AS bucket,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_m,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_m,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_m,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS DOUBLE) / count(*)
        |    AS avg_m
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin),

    // --- watermark late-data accounting (§2.8): three-batch file
    //     stream (mtime-ordered), 30-minute watermark delay. Batch 1
    //     is the on-time bulk (sets the watermark), batch 2 a nudge of
    //     the freshest rows (Spark's late-event filter runs one batch
    //     behind eviction — the nudge batch is what arms it), batch 3
    //     delivers stragglers at least 3 h older than any watermark
    //     candidate, so every one is DROPPED under any boundary
    //     variant. Oracle: aggregate everything except the stragglers,
    //     emit windows closed under the final watermark ---------------
    Gate("q_stream_late_drop", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        val ev = raw.withColumn("_ms",
          expr("unix_micros(" + Tables.tsExpr(raw.schema("ts").dataType) + ") div 1000"))
        val maxMs = ev.agg(max("_ms")).head.getLong(0) // O(1) driver scalar
        val isNudge = col("_ms") > maxMs - 1200000L
        val isStrag = col("_ms") <= maxMs - 10800000L && col("event_id") % 3 === 0
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_late")
        val now = System.currentTimeMillis()
        stageFile(ev.filter(!isNudge && !isStrag).drop("_ms"), inDir,
          "a.parquet", now - 180000)
        stageFile(ev.filter(isNudge).drop("_ms"), inDir, "n.parquet", now - 120000)
        stageFile(ev.filter(isStrag).drop("_ms"), inDir, "b.parquet", now - 60000)
        val stream = StreamingIngest
          .readFileStream(s, raw.schema, inDir.toString, maxFilesPerTrigger = Some(1))
          .withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
        val agg = stream
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_v_milli"))
        val tmp = tmpDir("q_stream_late_out")
        StreamingIngest.runAvailableNow(agg, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .orderBy(col("window_start"), col("event_type"))
      }
    },
      // the stragglers (>= 3h old when their batch runs, watermark
      // already at max - 30min) are all dropped; emitted cells are the
      // windows closed under the final watermark (end <= max ms-30min)
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(ts) // 1000 AS ms,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |mx AS (SELECT max(ms) AS m FROM ev),
        |keep AS (
        |  SELECT ev.* FROM ev, mx
        |  WHERE NOT (ms <= m - 10800000 AND event_id % 3 = 0)),
        |agg AS (
        |  SELECT (ms // 3600000) * 3600000 AS ws, event_type,
        |    count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_v_milli
        |  FROM keep GROUP BY 1, 2)
        |SELECT CAST(epoch_ms(ws) AS TIMESTAMP) AS window_start,
        |  event_type, n, sum_v_milli
        |FROM agg, mx WHERE ws + 3600000 <= m - 1800000
        |ORDER BY window_start, event_type""".stripMargin),

    // --- STREAMING CDC -> SCD2 dimension maintenance (the composed
    //     chain: changelog file-stream -> per-micro-batch Scd2.merge
    //     against the published dimension -> crash-safe snapshot swap
    //     via Publisher.publishSnapshot). Three mtime-ordered batches;
    //     only delta-touched keys recompute per batch. The oracle is
    //     the full-changelog rebuild — green proves batch boundaries
    //     don't leak into the dimension -------------------------------
    Gate("q_stream_scd2", (s, dir) => {
      import graft.operators.Scd2
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0) // O(1) driver scalar
      val (c1, c2) = (maxSeq / 3, 2 * maxSeq / 3)
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_scd2")
      stageBatches(inDir, Seq(
        ch.filter(col("seq") <= c1),
        ch.filter(col("seq") > c1 && col("seq") <= c2),
        ch.filter(col("seq") > c2)))
      val root = tmpDir("q_stream_scd2_dim")
      val dimPath = s"$root/dim"
      // each batch commits a key-hash ShardedTable version rewriting
      // ONLY the shards its delta's keys touch (same discipline as
      // the declarative scd2 job and the streaming index gates)
      val hconf = s.sparkContext.hadoopConfiguration
      val table = new graft.sink.ShardedTable(dimPath, "shard", hconf)
      drainFileStream(s, ch.schema, inDir, s"$root/ck") { delta =>
        val shardOf = pmod(hash(col("custkey")), lit(32)).cast("int")
        val touched = delta.select(shardOf.as("shard")).distinct()
          .collect().map(_.getInt(0).toString).toSeq.sorted
        val hasCurrent = table.currentVersion.isDefined
        val dim =
          if (hasCurrent) table.readPartitions(s, touched).drop("shard")
          else Scd2.fromChangelog(delta.limit(0),
            "custkey", "seq", "op", Seq("price"))
        val merged = Scd2.merge(dim, delta,
          "custkey", "seq", "op", Seq("price"))
        table.commit(merged.withColumn("shard", shardOf), touched)
      }
      table.readCurrent(s).drop("shard")
        .orderBy(col("custkey"), col("valid_from"))
    },
      // identical to the full-changelog SCD2 rebuild: batch boundaries
      // must not be visible in the final dimension
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin),

    // --- FLAGSHIP: governed CDC pipeline — changelog -> SCD2 merge
    //     (incremental path!) -> current snapshot -> price-bucket
    //     aggregate -> k-anonymous release. One oracle replays the
    //     whole chain; the merge path (not a full rebuild) feeding it
    //     proves the incremental dimension is release-grade ----------
    Gate("q_cdc_pipeline", (s, dir) => {
      import graft.operators.{Compliance, Scd2}
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val dim = Scd2.merge(
        Scd2.fromChangelog(ch.filter(col("seq") <= split),
          "custkey", "seq", "op", Seq("price")),
        ch.filter(col("seq") > split),
        "custkey", "seq", "op", Seq("price"))
      val current = dim.filter(col("is_current"))
        .select(col("custkey"), floor(col("price") / 50000).as("bucket"))
      Compliance.kAnonymize(current, Seq("bucket"), k = 25)
        .orderBy(col("bucket"))
    },
      // chain replay: full-changelog SCD2, current rows, price bucket,
      // small-cell fold with the sub-k fold-cell withheld
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch),
        |cur AS (
        |  SELECT custkey, CAST(floor(price / 50000) AS BIGINT) AS bucket
        |  FROM v WHERE op <> 'D' AND valid_to IS NULL),
        |cells AS (SELECT bucket, count(*) AS n FROM cur GROUP BY bucket),
        |m AS (
        |  SELECT CASE WHEN n >= 25 THEN CAST(bucket AS VARCHAR)
        |              ELSE 'OTHER' END AS bucket, n
        |  FROM cells)
        |SELECT bucket, CAST(sum(n) AS BIGINT) AS n,
        |  (bucket = 'OTHER') AS suppressed
        |FROM m GROUP BY bucket
        |HAVING bucket <> 'OTHER' OR sum(n) >= 25
        |ORDER BY bucket""".stripMargin),

    // --- the DECLARATIVE face of SCD2 maintenance (job.type=scd2):
    //     two watermark epochs of the same properties job — epoch 1
    //     sees the first half of the changelog, epoch 2 only the rows
    //     above the committed watermark; a third run publishes nothing
    //     (empty delta). Final dimension == full-changelog rebuild ----
    Gate("q_scd2_job", (s, dir) => {
      import graft.runner.JobConfig
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 50 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice").as("price"))
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val tmp = tmpDir("q_scd2_job")
      val props = JobConfig.parse(
        s"""job.type=scd2
           |job.name=orders_scd2
           |source.path=$tmp/changelog
           |scd2.key=custkey
           |scd2.seq=seq
           |scd2.op=op
           |scd2.attrs=price
           |sink.staging=$tmp/staging
           |sink.output=$tmp/dim
           |state.dir=$tmp/state
           |""".stripMargin)
      ch.filter(col("seq") <= split).write.mode("append")
        .parquet(s"$tmp/changelog")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      ch.filter(col("seq") > split).write.mode("append")
        .parquet(s"$tmp/changelog")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxSeq.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props) // empty delta: no publish
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      // the dimension is a key-hash ShardedTable since round 9
      new graft.sink.ShardedTable(s"$tmp/dim", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s).drop("shard")
        .orderBy(col("custkey"), col("valid_from"))
    },
      // the watermarked two-epoch declarative job must land exactly on
      // the full-changelog rebuild
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS price
        |  FROM orders),
        |v AS (
        |  SELECT custkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY custkey ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT custkey, price, seq AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY custkey, valid_from""".stripMargin),

    // --- the DECLARATIVE face of incremental rollup (job.type=rollup):
    //     two watermark epochs over events split by event_id; the
    //     published state after epoch 2 finalizes to the full GROUP BY.
    //     Third run: empty delta, no publish -------------------------
    Gate("q_rollup_job", (s, dir) => {
      import graft.operators.IncrementalRollup
      import graft.runner.JobConfig
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        (col("user_id") % 10).as("bucket"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      val split = maxId / 2
      val tmp = tmpDir("q_rollup_job")
      val props = JobConfig.parse(
        s"""job.type=rollup
           |job.name=events_rollup
           |source.path=$tmp/src
           |rollup.dims=event_type,bucket
           |rollup.measure=v_milli
           |rollup.seq=event_id
           |sink.staging=$tmp/staging
           |sink.output=$tmp/state
           |state.dir=$tmp/wm
           |""".stripMargin)
      ev.filter(col("event_id") <= split).write.mode("append")
        .parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      ev.filter(col("event_id") > split).write.mode("append")
        .parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false", s"empty epoch must be a no-op: $r3")
      IncrementalRollup.finalizeState(
          new graft.sink.ShardedTable(s"$tmp/state", "shard",
              s.sparkContext.hadoopConfiguration)
            .readCurrent(s).drop("shard"),
          Seq("event_type", "bucket"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // two watermark epochs must finalize to the one-shot GROUP BY
      """SELECT event_type, user_id % 10 AS bucket,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_m,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_m,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_m,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS DOUBLE) / count(*)
        |    AS avg_m
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin),

    // --- stream-stream LEFT OUTER join (§2.8 — the last stream-join
    //     face: inner results emit on match, unmatched LEFT rows emit
    //     null-padded once the watermark passes their join window).
    //     Both sides file-streams; the compared result is post-filtered
    //     2 h clear of the final watermark so every retained left row's
    //     outer emission is boundary-variant-proof. All arithmetic in
    //     exact MICROS (ms truncation could flip a 10-min bound) ------
    Gate("q_stream_outer_join", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        val ev = raw.withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
          .select(col("event_id"), col("user_id"), col("ts"))
        val maxUs = ev.agg(max(expr("unix_micros(ts)"))).head.getLong(0)
        val lDir = java.nio.file.Files.createTempDirectory("q_soj_l")
        val rDir = java.nio.file.Files.createTempDirectory("q_soj_r")
        val now = System.currentTimeMillis()
        stageFile(raw.filter(col("event_id") % 2 === 0), lDir, "l.parquet", now)
        stageFile(raw.filter(col("event_id") % 2 =!= 0), rDir, "r.parquet", now)
        def side(dirP: java.nio.file.Path, prefix: String) =
          StreamingIngest.readFileStream(s, raw.schema, dirP.toString)
            .withColumn("ts", expr(Tables.tsExpr(raw.schema("ts").dataType)))
            .select(col("event_id").as(s"${prefix}_id"),
              col("user_id").as(s"${prefix}_user"),
              col("ts").as(s"${prefix}_ts"))
            .withWatermark(s"${prefix}_ts", "0 seconds")
        val joined = side(lDir, "l").join(side(rDir, "r"),
          expr("l_user = r_user AND r_ts >= l_ts AND " +
            "r_ts <= l_ts + interval 10 minutes"),
          "leftOuter")
          .select(col("l_id"), col("r_id"),
            expr("unix_micros(l_ts)").as("l_us"),
            expr("unix_micros(r_ts)").as("r_us"))
        val tmp = tmpDir("q_soj_out")
        StreamingIngest.runAvailableNow(joined, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .filter(col("l_us") <= maxUs - 7200000000L)
          .orderBy(col("l_id"), col("r_id"))
      }
    },
      // plain relational left join replay in exact micros, restricted
      // to left rows 2 h clear of the final watermark
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |mx AS (SELECT max(us) AS m FROM ev),
        |l AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |r AS (SELECT * FROM ev WHERE event_id % 2 <> 0)
        |SELECT l.event_id AS l_id, r.event_id AS r_id,
        |  l.us AS l_us, r.us AS r_us
        |FROM l LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.us >= l.us
        |     AND r.us <= l.us + 600000000
        |CROSS JOIN mx
        |WHERE l.us <= m - 7200000000
        |ORDER BY l_id, r_id""".stripMargin),

    // --- versioned-table commits with snapshot isolation, time
    //     travel, and rollback (sink/VersionedTable.scala — the
    //     Iceberg commit surface natively): commit v1 (full agg),
    //     commit v2 (narrowed), time-travel both, roll back to v1,
    //     continue with v3. Output = the post-rollback current read,
    //     which must be v1's content with v3 in the history ----------
    Gate("q_versioned_table", (s, dir) => {
      import graft.sink.VersionedTable
      val tbl = new VersionedTable(tmpDir("q_vtable") + "/t",
        s.sparkContext.hadoopConfiguration)
      val ev = t(s, dir, "events")
      val full = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_v_milli"))
        .persist() // five actions below reuse the one aggregation
      val v1 = tbl.commit(full)
      val v2 = tbl.commit(full.filter(col("event_type") =!= "error"))
      require(v1 == 1L && v2 == 2L && tbl.currentVersion.contains(2L))
      require(tbl.read(s, 1L).count() == tbl.readCurrent(s).count() + 1,
        "time travel must see the un-narrowed v1")
      tbl.rollback(1L)
      val v3 = tbl.commit(full.limit(1)) // history continues after rollback
      require(v3 == 3L && tbl.history == Seq(1L, 2L, 3L))
      full.unpersist()
      tbl.rollback(1L)
      tbl.readCurrent(s).orderBy(col("event_type"))
    },
      // after two later commits and a rollback, the current read is
      // exactly version 1: the full per-type aggregate
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // --- declarative incremental index job (job.type=index): two
    //     watermark epochs build the BM25 index via mergeIndex; a
    //     third run is a no-op; queries scored from the PUBLISHED
    //     index must equal the oracle's full-corpus scoring ---------
    Gate("q_index_job", (s, dir) => {
      import graft.runner.JobConfig
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("q_index_job").toString
      val props = JobConfig.parse(
        s"""job.type=index
           |job.name=docs_index
           |source.path=$tmp/src
           |index.id=doc_id
           |index.text=text
           |index.seq=doc_id
           |sink.staging=$tmp/staging
           |sink.output=$tmp/idx
           |state.dir=$tmp/state
           |""".stripMargin)
      // O(1) driver scalar: the epoch split point, not data
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val split = maxId / 2
      docs.filter(col("doc_id") <= split).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      docs.filter(col("doc_id") > split).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      // the index lives in a doc-hash ShardedTable: scoring reads the
      // CURRENT version's manifest (the shard column rides along
      // harmlessly); epochs rewrote only delta-touched shards
      val table = new graft.sink.ShardedTable(s"$tmp/idx", "shard",
        s.sparkContext.hadoopConfiguration)
      graft.operators.Bm25.topKFromIndex(table.readCurrent(s),
          docs.filter(pmod(col("doc_id"), lit(41)) === 0 && col("doc_id") < QueryIdBound),
          "doc_id", "text", k = 10,
          excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH ${bm25Ctes("((doc_id % 41) + 41) % 41 = 0 AND doc_id < 5000")}
         |SELECT query_id, rank, doc_id, score, n_terms
         |FROM bmr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // --- index TIME TRAVEL + rollback (ShardedTable versions): the
    //     2-epoch index job, then ROLL BACK to version 1 — scoring
    //     from the rolled-back current must equal the oracle's scoring
    //     over the epoch-1 corpus ONLY. Every epoch is a manifest
    //     version; rollback is a pointer flip, no data moves ---------
    Gate("q_index_time_travel", (s, dir) => {
      import graft.runner.JobConfig
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("q_index_tt").toString
      val props = JobConfig.parse(
        s"""job.type=index
           |job.name=docs_index_tt
           |source.path=$tmp/src
           |index.id=doc_id
           |index.text=text
           |index.seq=doc_id
           |sink.staging=$tmp/staging
           |sink.output=$tmp/idx
           |state.dir=$tmp/state
           |""".stripMargin)
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val split = maxId / 2
      docs.filter(col("doc_id") <= split).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      docs.filter(col("doc_id") > split).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true", s"epoch 2 failed: $r2")
      val table = new graft.sink.ShardedTable(s"$tmp/idx", "shard",
        s.sparkContext.hadoopConfiguration)
      require(table.currentVersion.contains(2L), "expected 2 committed versions")
      table.rollback(1L)
      require(table.currentVersion.contains(1L), "rollback must flip the pointer")
      graft.operators.Bm25.topKFromIndex(table.readCurrent(s),
          docs.filter(col("doc_id") <= split && pmod(col("doc_id"), lit(53)) === 0
            && col("doc_id") < QueryIdBound),
          "doc_id", "text", k = 10, excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    },
    // the rolled-back version 1 is the epoch-1 index: replay scoring
    // over the FIRST-HALF corpus only
      s"""WITH ${bm25Ctes("((doc_id % 53) + 53) % 53 = 0 AND doc_id < 5000",
             corpusPred = "doc_id <= (SELECT max(doc_id) // 2 FROM documents)")}
         |SELECT query_id, rank, doc_id, score, n_terms
         |FROM bmr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // --- STREAMING index maintenance (foreachBatch + Bm25.mergeIndex):
    //     three micro-batches of documents (third re-delivers every
    //     6th doc with CORRECTED text — a late-correction upsert);
    //     each batch merges into the published index by crash-safe
    //     snapshot swap. Scoring from the final index must equal the
    //     oracle's full-corpus scoring — merge == rebuild under
    //     streaming delivery, corrections included -------------------
    Gate("q_stream_index", (s, dir) => {
      import graft.operators.Bm25
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // batches 1+2 carry STALE text for every 6th doc; batch 3 is the
      // correction replay (delta-wins must leave only corrected rows)
      val staled = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(6)) === 0,
          concat(coalesce(col("text"), lit("")), lit(" stale stale")))
          .otherwise(col("text")))
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val split = maxId / 2
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_index")
      stageBatches(inDir, Seq(
        staled.filter(col("doc_id") <= split),
        staled.filter(col("doc_id") > split),
        docs.filter(pmod(col("doc_id"), lit(6)) === 0)))
      val root = java.nio.file.Files.createTempDirectory("q_stream_index_out").toString
      val idxPath = s"$root/idx"
      val hconf = s.sparkContext.hadoopConfiguration
      // each batch commits a ShardedTable version that rewrites ONLY
      // the doc-hash shards its delta touches; untouched shards carry
      // over by manifest reference (no per-batch full-index rewrite)
      val table = new graft.sink.ShardedTable(idxPath, "shard", hconf)
      drainFileStream(s, docs.schema, inDir, s"$root/ck") { delta =>
        val hasCurrent = table.currentVersion.isDefined
        val (merged, touched) = Bm25.shardedMerge(table, hasCurrent,
          delta, "doc_id", "text", nShards = 16)
        table.commit(merged, touched)
      }
      Bm25.topKFromIndex(table.readCurrent(s),
          docs.filter(pmod(col("doc_id"), lit(47)) === 0 && col("doc_id") < QueryIdBound),
          "doc_id", "text", k = 10,
          excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH ${bm25Ctes("((doc_id % 47) + 47) % 47 = 0 AND doc_id < 5000")}
         |SELECT query_id, rank, doc_id, score, n_terms
         |FROM bmr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // --- keys-only streaming dedup with bounded state (StreamingIngest
    //     .streamingDedupWithinWatermark): the events file replayed in
    //     a second micro-batch with ts JITTERED +1 min — the classic
    //     (keys+ts)-keyed dedup would pass every jittered copy; the
    //     within-watermark dedup suppresses them all (90 d delay >> the
    //     30 d event span, so no state evicts mid-run). Output = each
    //     event exactly once with its FIRST-seen (original) timestamp -
    Gate("q_stream_dedup_keys", (s, dir) => {
      import graft.streaming.StreamingIngest
      StreamingIngest.withStatePartitions(s, 8) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        val rawSchema = raw.schema
        val tsCol = expr(Tables.tsExpr(rawSchema("ts").dataType))
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_ddk")
        stageFile(raw, inDir, "a.parquet", mtime = 1700000000000L)
        stageFile(raw, inDir, "b.parquet", mtime = 1700000001000L)
        val stream = StreamingIngest
          .readFileStream(s, rawSchema, inDir.toString, maxFilesPerTrigger = Some(1))
          .withColumn("_fname", input_file_name())
          .withColumn("ts",
            when(col("_fname").contains("b.parquet"),
              tsCol + expr("INTERVAL 1 MINUTE")).otherwise(tsCol))
          .drop("_fname")
        val dd = StreamingIngest
          .streamingDedupWithinWatermark(stream, "ts", "2160 hours", Seq("event_id"))
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("v_milli"),
            unix_micros(col("ts")).as("ts_us"))
        val tmp = java.nio.file.Files.createTempDirectory("q_stream_ddk_out").toString
        StreamingIngest.runAvailableNow(dd, s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data").orderBy(col("event_id"))
      }
    },
      // doubled + ts-jittered input, keys-only dedup: one row per
      // event with its FIRST-seen (original) timestamp
      """SELECT event_id, event_type,
        |  CAST(floor(value * 1000) AS BIGINT) AS v_milli,
        |  epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin),

    // --- declarative incremental ANN index job (job.type=annindex):
    //     epoch 1 fits the codebook (Ann.sampledIvf over the FIRST
    //     half — frozen thereafter) and publishes assignments; epoch 2
    //     assigns the second half against the frozen codebook and
    //     merges (delta-wins row replacement); a third run is a no-op.
    //     Search from the PUBLISHED assignments + sidecar codebook
    //     must equal the oracle's full-corpus re-assignment with the
    //     same (first-epoch-seeded) codebook — merge == rebuild ------
    Gate("q_ann_index_job", (s, dir) => {
      import graft.operators.AnnIndex
      import graft.runner.JobConfig
      val e = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("q_ann_index_job").toString
      val props = JobConfig.parse(
        s"""job.type=annindex
           |job.name=vec_index
           |source.path=$tmp/src
           |annindex.id=vec_id
           |annindex.vec=embedding
           |annindex.seq=vec_id
           |annindex.centroids=8
           |sink.staging=$tmp/staging
           |sink.output=$tmp/idx
           |state.dir=$tmp/state
           |""".stripMargin)
      // O(1) driver scalar: the epoch split point, not data
      val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
      val split = maxId / 2
      e.filter(col("vec_id") <= split).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      e.filter(col("vec_id") > split).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      val idx = AnnIndex.loadCodebook(s"$tmp/idx", s.sparkContext.hadoopConfiguration)
      // assignments live in a list_id-partitioned ShardedTable:
      // searchTable opens ONLY the probed lists' partitions (manifest
      // pruning) — same results as a full-assignments search
      val table = new graft.sink.ShardedTable(s"$tmp/idx", "list_id",
        s.sparkContext.hadoopConfiguration)
      AnnIndex.searchTable(idx, table,
          e.filter(pmod(col("vec_id"), lit(100)) === 0), k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    },
    // merge == rebuild: the oracle re-assigns the WHOLE corpus with
    // the codebook seeded from the first epoch only
      frozenIvfSearch(
      seedWhere = "vec_id <= (SELECT max(vec_id) // 2 FROM embeddings)",
      seedExpr = "CAST(embedding AS DOUBLE[])",
      nCentroids = 8, nProbe = 4, k = 5, probeMod = 100)),

    // --- STREAMING ANN index maintenance (foreachBatch +
    //     AnnIndex.merge): three micro-batches of vectors; batches 1+2
    //     carry a STALE (reversed) embedding for every 10th vector,
    //     batch 3 is the correction replay. The codebook is fit from
    //     batch 1 (stale rows included — that's what an online fit
    //     sees) and FROZEN, riding each published snapshot as a
    //     sidecar. Search from the final snapshot must equal the
    //     oracle's full re-assignment of the CORRECTED corpus with the
    //     stale-batch-1-seeded codebook ---------------------------------
    Gate("q_stream_ann_index", (s, dir) => {
      import graft.operators.AnnIndex
      import graft.state.FsStateStore
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val staled = e.withColumn("embedding",
        when(pmod(col("vec_id"), lit(10)) === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))
      val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
      val split = maxId / 2
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_ann_index")
      stageBatches(inDir, Seq(
        staled.filter(col("vec_id") <= split),
        staled.filter(col("vec_id") > split),
        e.filter(pmod(col("vec_id"), lit(10)) === 0)))
      val root = java.nio.file.Files.createTempDirectory("q_stream_ann_out").toString
      val idxPath = s"$root/idx"
      val hconf = s.sparkContext.hadoopConfiguration
      // each batch commits a list_id-partitioned ShardedTable version
      // rewriting ONLY the lists its delta touches; the frozen
      // codebook (fit from the FIRST batch) is a root sidecar written
      // before the first commit's pointer flip
      val table = new graft.sink.ShardedTable(idxPath, "list_id", hconf)
      drainFileStream(s, staled.schema, inDir, s"$root/ck") { delta =>
        val hasCurrent = table.currentVersion.isDefined
        val idx =
          if (hasCurrent) AnnIndex.loadCodebook(idxPath, hconf)
          else {
            val fit = graft.functions.Ann.sampledIvf(delta, k = 8)
            new FsStateStore(idxPath, hconf).put("_centroids", "annindex",
              Map("table" -> AnnIndex.encodeCentroids(fit)))
            fit
          }
        val (merged, touched) =
          AnnIndex.shardedMerge(idx, table, hasCurrent, delta)
        table.commit(merged, touched)
      }
      val idx = AnnIndex.loadCodebook(idxPath, hconf)
      AnnIndex.searchTable(idx, table,
          e.filter(pmod(col("vec_id"), lit(100)) === 0), k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    },
    // streaming: seeds come from batch 1 (first half) WITH the stale
    // reversal applied to every 10th vector — exactly what the online
    // fit saw; assignment/search run over the CORRECTED final corpus
      frozenIvfSearch(
      seedWhere = "vec_id <= (SELECT max(vec_id) // 2 FROM embeddings)",
      seedExpr = """CASE WHEN vec_id % 10 = 0
                   |      THEN list_reverse(CAST(embedding AS DOUBLE[]))
                   |      ELSE CAST(embedding AS DOUBLE[]) END""".stripMargin,
      nCentroids = 8, nProbe = 4, k = 5, probeMod = 100)),

    // --- declarative incremental funnel job (job.type=funnel): two
    //     watermark epochs of events; epoch 2 recomputes ONLY the
    //     delta-touched users over their full history (order-sensitive
    //     matching), untouched rows carry over; a third run is a
    //     no-op. The published funnel must equal the oracle's
    //     full-corpus match — touched-key merge == rebuild ------------
    Gate("q_funnel_job", (s, dir) => {
      import graft.runner.JobConfig
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), expr("unix_micros(ts) div 1000").as("ms"))
      val tmp = java.nio.file.Files.createTempDirectory("q_funnel_job").toString
      val props = JobConfig.parse(
        s"""job.type=funnel
           |job.name=purchase_funnel
           |source.path=$tmp/src
           |funnel.key=user_id
           |funnel.type=event_type
           |funnel.ms=ms
           |funnel.steps=view,click,purchase
           |funnel.maxGapMs=86400000
           |funnel.seq=event_id
           |sink.staging=$tmp/staging
           |sink.output=$tmp/funnel
           |state.dir=$tmp/state
           |""".stripMargin)
      val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
      val split = maxId / 2
      ev.filter(col("event_id") <= split).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      ev.filter(col("event_id") > split).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      // the funnel dimension is a key-hash ShardedTable since round 9
      new graft.sink.ShardedTable(s"$tmp/funnel", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s).drop("shard")
        .orderBy(col("user_id"))
    },
    // full-corpus funnel replay (same CTE chain as q_funnel): a green
    // row proves the touched-key incremental merge equals the rebuild
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

    // --- declarative incremental classifier job (job.type=classify):
    //     two watermark epochs train by count-merge into a token-hash
    //     ShardedTable, third epoch no-ops; predictions from the
    //     PUBLISHED model must equal the oracle's full retrain -------
    Gate("q_classify_job", (s, dir) => {
      import graft.runner.JobConfig
      import operators.TextClassifier
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", "en").otherwise("xx").as("label"))
      val tmp = java.nio.file.Files.createTempDirectory("q_classify_job").toString
      val props = JobConfig.parse(
        s"""job.type=classify
           |job.name=docs_classify
           |source.path=$tmp/src
           |classify.text=text
           |classify.label=label
           |classify.seq=doc_id
           |sink.output=$tmp/model
           |state.dir=$tmp/state
           |""".stripMargin)
      val maxId = labeled.agg(max(col("doc_id"))).head.getLong(0)
      val split = maxId / 2
      labeled.filter(col("doc_id") <= split)
        .write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      labeled.filter(col("doc_id") > split)
        .write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxId.toString,
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false" && r3("deltaRows") == "0",
        s"empty epoch must be a no-op: $r3")
      val table = new graft.sink.ShardedTable(s"$tmp/model", "shard",
        s.sparkContext.hadoopConfiguration)
      val (counts, docCounts) = TextClassifier.fromState(table.readCurrent(s))
      val (weights, classInfo) =
        TextClassifier.weightsFromCounts(counts, docCounts)
      val heldOut = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select("doc_id", "text")
      TextClassifier.predictWithMargin(heldOut, "doc_id", "text", weights, classInfo)
        .orderBy("doc_id")
    },
    // the job and streaming faces share the incremental oracle: the
    // published model was built by count-merge epochs/batches, the
    // oracle retrains once
      classifierOracle("doc_id % 4 = 1")),

    // --- STREAMING classifier maintenance (foreachBatch +
    //     TextClassifier.shardedMerge): two micro-batches of labeled
    //     docs count-merge into the token-hash ShardedTable, one
    //     version per batch; predictions from the final model must
    //     equal the oracle's single full retrain ---------------------
    Gate("q_stream_classify", (s, dir) => {
      import operators.TextClassifier
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", "en").otherwise("xx").as("label"))
      val maxId = labeled.agg(max(col("doc_id"))).head.getLong(0)
      val split = maxId / 2
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_classify")
      stageBatches(inDir, Seq(
        labeled.filter(col("doc_id") <= split),
        labeled.filter(col("doc_id") > split)))
      val root = java.nio.file.Files.createTempDirectory("q_stream_cls_out").toString
      val hconf = s.sparkContext.hadoopConfiguration
      val table = new sink.ShardedTable(s"$root/model", "shard", hconf)
      drainFileStream(s, labeled.schema, inDir, s"$root/ck") { delta =>
        val hasCurrent = table.currentVersion.isDefined
        val (merged, touched) = TextClassifier.shardedMerge(
          table, hasCurrent, delta, "text", "label", nShards = 32)
        table.commit(merged, touched, full = !hasCurrent)
      }
      val (counts, docCounts) = TextClassifier.fromState(table.readCurrent(s))
      val (weights, classInfo) =
        TextClassifier.weightsFromCounts(counts, docCounts)
      val heldOut = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select("doc_id", "text")
      TextClassifier.predictWithMargin(heldOut, "doc_id", "text", weights, classInfo)
        .orderBy("doc_id")
    }, classifierOracle("doc_id % 4 = 1")),

    // --- STREAMING thread assembly (flatMapGroupsWithState +
    //     EventTimeTimeout — the 1->N custom-state seam): per-user
    //     turn buffering, gap-split sessions, each ASSEMBLED thread
    //     emitted once the watermark strictly passes its end; open
    //     sessions at stream end never emit ---------------------------
    Gate("q_stream_threads", (s, dir) => {
      import streaming.{StreamingIngest, ThreadAssembly}
      StreamingIngest.withStatePartitions(s, 8) {
        val src = s"$dir/events.parquet"
        val rawSchema = s.read.parquet(src).schema
        val inDir = java.nio.file.Files.createTempDirectory("q_stream_threads")
        copyRaw(s, src, inDir, "events.parquet")
        import s.implicits._
        val stream = StreamingIngest.readFileStream(s, rawSchema, inDir.toString)
          .withColumn("ts", expr(Tables.tsMillisExpr(rawSchema("ts").dataType)))
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), expr("unix_millis(ts)").as("ms"),
            col("event_id"),
            when(col("event_type").isin("view", "click", "signup"), "user")
              .otherwise("assistant").as("role"),
            concat_ws(" ", col("event_type"), col("props")).as("text"))
          .as[ThreadAssembly.ThreadTurn]
        val out = ThreadAssembly.assemble(stream, gapMs = 1800000L)
        val tmp = java.nio.file.Files.createTempDirectory("q_stream_threads_out").toString
        StreamingIngest.runAvailableNow(out.toDF(), s"$tmp/data", s"$tmp/ck")
        s.read.parquet(s"$tmp/data")
          .orderBy(col("user_id"), col("session_no"))
      }
    },
      // gap sessionization + thread assembly; append mode emitted
      // exactly the sessions whose end (last turn + gap) is STRICTLY
      // below the final watermark (max ms-truncated event time, 0s
      // delay) — the documented ThreadAssembly contract
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    CASE WHEN event_type IN ('view', 'click', 'signup')
        |         THEN 'user' ELSE 'assistant' END AS role,
        |    event_type || ' ' || props AS txt
        |  FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM ev),
        |brk AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
        |      OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS b
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sess AS (SELECT *, SUM(b) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM brk),
        |agg AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_turns,
        |    min(ms) AS start_ms, max(ms) + 1800000 AS end_ms,
        |    string_agg(role || ': ' || txt, chr(10) ORDER BY ms, event_id) AS thread_text
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_ms) AS BIGINT) AS session_no,
        |  n_turns, start_ms, end_ms, thread_text
        |FROM agg, mx WHERE end_ms < max_ms
        |ORDER BY user_id, session_no""".stripMargin),

    // --- STREAMING document ingest (the flagship's streaming face):
    //     two micro-batches of the mixed plain/HTML/PDF corpus are
    //     extracted per batch and merged into a fingerprint-sharded
    //     dedup LEDGER (min-id survivor, copy counts — both mergeable
    //     folds, so streaming == batch), committed partition-granular
    //     per epoch. The oracle deduplicates the union in one shot ---
    Gate("q_stream_document", (s, dir) => {
      import s.implicits._
      import graft.functions.Text
      import graft.operators.{Multimodal, PdfText, PdfWriter}
      val media = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .as[(Long, String)]
        .groupByKey(_._1 / 3)
        .flatMapGroups { (g, it) =>
          val members = it.toSeq.sortBy(_._1)
          val leaderText = members.head._2
          members.map { case (id, _) =>
            val bytes = (id % 3) match {
              case 0 => leaderText.getBytes(
                java.nio.charset.StandardCharsets.UTF_8)
              case 1 => s"<html>$leaderText</html>".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)
              case _ => PdfWriter.write(id,
                PdfWriter.layout(leaderText, perLine = 8, linesPerPage = 6),
                (g % 3).toInt)
            }
            (id, bytes)
          }
        }.toDF("media_id", "content")
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_doc")
      stageBatches(inDir, Seq(
        media.filter(col("media_id") < 150),
        media.filter(col("media_id") >= 150)))
      val root = java.nio.file.Files
        .createTempDirectory("q_stream_doc_out").toString
      val table = new graft.sink.ShardedTable(s"$root/dedup", "shard",
        s.sparkContext.hadoopConfiguration)
      drainFileStream(s, media.schema, inDir, s"$root/ck") { delta =>
        val ext = delta.as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, c) =>
            Multimodal.sniffModality(c) match {
              case "application/pdf" =>
                (id, PdfText.extract(id, c).text.replace('\n', ' '))
              case _ => (id,
                new String(c, java.nio.charset.StandardCharsets.UTF_8))
            }
          }).toDF("media_id", "raw")
          .select(col("media_id"),
            Text.stripHtml(col("raw")).as("clean"))
        val agg = ext
          .groupBy(Text.fingerprint(col("clean")).as("fp"))
          .agg(min(col("media_id")).as("keep_id"),
            count(lit(1)).as("n_copies"))
          .withColumn("shard",
            pmod(xxhash64(col("fp")), lit(8)).cast("long"))
        val touched = agg.select(col("shard").cast("string"))
          .distinct().as[String].collect().toSeq.sorted
        val hasCurrent = table.currentVersion.isDefined
        val merged =
          if (!hasCurrent) agg
          else table.readPartitions(s, touched)
            .select("fp", "keep_id", "n_copies", "shard")
            .unionByName(agg)
            .groupBy(col("fp"), col("shard"))
            .agg(min(col("keep_id")).as("keep_id"),
              sum(col("n_copies")).as("n_copies"))
        table.commit(merged, touched, full = !hasCurrent)
      }
      table.readCurrent(s)
        .select(col("fp").as("fingerprint"), col("keep_id"),
          col("n_copies").cast("long").as("n_copies"))
        .orderBy(col("fingerprint"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 300),
        |m AS (
        |  SELECT a.doc_id AS media_id, l.t AS lt
        |  FROM d a JOIN d l ON l.doc_id = a.doc_id - a.doc_id % 3)
        |SELECT md5(lt) AS fingerprint, min(media_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
