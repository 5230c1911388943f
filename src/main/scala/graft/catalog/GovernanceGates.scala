package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{NormalizeNfc, Similarity, StripAccents, Text}
import graft.operators.{Converters, Packing, Splits}
import graft.quality.Quality

import Fixtures._

/** Governance and text-prep gates: quality policies, PII and
  * compliance, lineage and audit, sampling and mixing, packing,
  * tokenizers, classifiers and the SFT/preference data builders.
  */
object GovernanceGates {

  /** 16 out-of-vocabulary tokens planted on every 7th document by the
    * governed-pipeline gate (single source of truth for both engines).
    */
  val Garble: String = Seq.fill(8)("zzq qzz").mkString(" ", " ", "")

  /** 4-token variant: a milder corruption, so tercile bucketing has a
    * genuine middle band to find.
    */
  val GarbleShort: String = " zzq qzz qzz zzq"

  /** Shared DuckDB tokenizer fragment == `functions.Text.tokens`. */
  private val SqlToks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** Fixed mixture weights for q_mixture_plan (weight = (i%3)+1 per
    * srcN) — enumerated into the oracle CASE from this same map.
    */
  private[graft] val MixWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i % 3) + 1).toLong).toMap

  /** The classifier train+score replay, parameterized by the held-out
    * filter — q_text_classifier scores everything outside the train
    * slice, q_classifier_incremental scores the %4==1 slice against a
    * model built by count-merge (oracle retrains on the union: green
    * proves merge == rebuild).
    */
  private[catalog] def classifierOracle(scoreFilter: String): String =
    s"""WITH ${classifierCtes(scoreFilter)}
       |SELECT doc_id, (max({'s': score, 'l': label})).l AS pred_label,
       |  CAST(max(score) AS BIGINT) AS best_score,
       |  CAST(max(score) - min(score) AS BIGINT) AS margin
       |FROM scores GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The train+score CTE chain up to `scores(doc_id, label, score)`,
    * reusable by oracles that post-process predictions.
    */
  private def classifierCtes(scoreFilter: String,
      labelCase: String = "CASE WHEN lang = 'en' THEN 'en' ELSE 'xx' END")
      : String =
    s"""tr AS (
       |  SELECT doc_id, text,
       |    $labelCase AS label
       |  FROM documents WHERE doc_id % 4 = 0),
       |toks AS (SELECT label, unnest($SqlToks) AS token FROM tr),
       |counts AS (SELECT label, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |totals AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT token) AS v FROM counts),
       |docsc AS (SELECT label, count(*) AS docs_c FROM tr GROUP BY 1),
       |nd AS (SELECT CAST(sum(docs_c) AS BIGINT) AS dt FROM docsc),
       |ci AS (SELECT d.label,
       |         CAST(floor(CAST(d.docs_c * 1048576 AS DOUBLE) / CAST(dt AS DOUBLE)) AS BIGINT) AS prior,
       |         CAST(floor(CAST(1048576 AS DOUBLE) / CAST(t.tot + v AS DOUBLE)) AS BIGINT) AS w0
       |       FROM docsc d JOIN totals t ON t.label = d.label, nd, vocab),
       |wt AS (SELECT c.label, c.token,
       |         CAST(floor(CAST((c.cnt + 1) * 1048576 AS DOUBLE) / CAST(t.tot + v AS DOUBLE)) AS BIGINT) AS w
       |       FROM counts c JOIN totals t ON c.label = t.label, vocab),
       |ho AS (SELECT doc_id, text FROM documents WHERE $scoreFilter),
       |occ AS (SELECT doc_id, unnest($SqlToks) AS token FROM ho),
       |pc AS (SELECT o.doc_id, ci.label, CAST(sum(coalesce(w.w, ci.w0)) AS BIGINT) AS ts
       |       FROM occ o CROSS JOIN ci
       |       LEFT JOIN wt w ON w.token = o.token AND w.label = ci.label
       |       GROUP BY 1, 2),
       |scores AS (SELECT h.doc_id, ci.label,
       |             ci.prior + coalesce(pc.ts, 0) AS score
       |           FROM ho h CROSS JOIN ci
       |           LEFT JOIN pc ON pc.doc_id = h.doc_id AND pc.label = ci.label)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // --- deterministic sampling (SamplingConverter) -------------------
    Gate("q_sample", (s, dir) => {
      Converters.sampleDeterministic("event_id", 10)(t(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id % 10 = 0 ORDER BY event_id""".stripMargin),

    // --- deterministic train/val/test split ---------------------------
    Gate("q_train_split", (s, dir) => {
      graft.operators.Splits.split(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("split"))
    },
      """WITH assigned AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('graft' || '|' || doc_id), 1, 4) < 'cccd' THEN 'train'
        |         WHEN substring(md5('graft' || '|' || doc_id), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_doc
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin),

    // --- per-group deterministic sampling -----------------------------
    Gate("q_group_sample", (s, dir) => {
      Converters.sampleKPerGroup(Seq("source"), "doc_id", k = 3)(t(s, dir, "documents"))
        .select(col("source"), col("doc_id"), col("lang"))
        .orderBy(col("source"), col("doc_id"))
    },
      """SELECT source, doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5('graft' || '|' || doc_id), doc_id) <= 3
        |ORDER BY source, doc_id""".stripMargin),

    // --- text analysis: stats + quality scoring -----------------------
    Gate("q_text_stats", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.charCount(col("text")).as("n_chars_computed"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.bpeishTokenCount(col("text")).as("n_bpeish"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        Text.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  length(text) AS n_chars_computed,
        |  len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |    / CAST(greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1) AS DOUBLE) AS stopword_ratio,
        |  (CASE WHEN len(list_filter(string_split(text, ' '), x -> len(x) > 0)) BETWEEN 20 AND 10000 THEN 0.5 ELSE 0.0 END
        |   + CASE WHEN (CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / CAST(greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1) AS DOUBLE)) > 0.0 THEN 0.3 ELSE 0.0 END)
        |   + CASE WHEN (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)) < 0.1 THEN 0.2 ELSE 0.0 END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- language-ID heuristic ----------------------------------------
    Gate("q_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(Text.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    },
      """WITH scores AS (
        |  SELECT
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','to','is'))) AS s_en,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('der','und','die','das','ist'))) AS s_de,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('le','la','et','les','est'))) AS s_fr,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('el','de','que','los','es'))) AS s_es
        |  FROM documents
        |), pred AS (
        |  SELECT CASE
        |    WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |    WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |    WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
        |    WHEN s_es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_pred
        |  FROM scores
        |)
        |SELECT lang_pred, COUNT(*) AS n FROM pred
        |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),

    // --- RowLevelPolicy FAIL / ERR_FILE through Quality.checkRows (ref
    //     RowLevelPolicyChecker.java:101,177-184): output = surviving
    //     rows per type plus the quarantined bucket; the oracle applies
    //     the same predicates in SQL ------------------------------------
    Gate("q_quality_policies", (s, dir) => {
      val ev = t(s, dir, "events")
      val checked = Quality.checkRows(ev, Seq(
        Quality.RowPolicy("value_cap", col("value") <= 190, Quality.Fail),
        Quality.RowPolicy("user_mod", pmod(col("user_id"), lit(7)) =!= 0, Quality.ErrFile)))
      val passed = checked.passed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"))
      val quarantined = checked.quarantined.get
        .agg(count(lit(1)).as("n"), sum(vMilli).as("sum_v_milli"))
        .select(lit("_quarantined").as("event_type"), col("n"), col("sum_v_milli"))
      passed.unionByName(quarantined).orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE value <= 190 AND user_id % 7 <> 0
        |GROUP BY event_type
        |UNION ALL
        |SELECT '_quarantined' AS event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_milli
        |FROM events WHERE user_id % 7 = 0
        |ORDER BY event_type""".stripMargin),

    // --- PII scrubbing (Text.scrubPii): emails, IPv4s, phone-shaped
    //     digit runs redacted in one regexp_replace chain. PII is
    //     planted deterministically from table columns so the patterns
    //     actually fire; the oracle replays the same chain with RE2
    //     syntax-compatible patterns -----------------------------------
    Gate("q_pii_scrub", (s, dir) => {
      val raw = concat(
        substring(col("text"), 1, 40), lit(" contact "), col("source"), lit("."), col("lang"),
        lit("@example.com or 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
        ((col("doc_id") * 7) % 256).cast("string"), lit(" ext 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), Text.scrubPii(raw).as("scrubbed"))
        .orderBy(col("doc_id"))
    },
      s"""WITH r AS (SELECT doc_id,
         |  substring(text, 1, 40) || ' contact ' || source || '.' || lang || '@example.com or 10.' ||
         |  CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
         |  ' ext 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         |FROM documents)
         |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(raw,
         |  '${Text.EmailRe}', '<EMAIL>', 'g'),
         |  '${Text.Ipv4Re}', '<IP>', 'g'),
         |  '${Text.PhoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM r ORDER BY doc_id""".stripMargin),

    // --- duplicate-n-gram quality signal (Text.dupNgramRatio): the
    //     Gopher/Dolma-style excess-repetition filter; exact counts,
    //     one IEEE division --------------------------------------------
    Gate("q_dup_ngrams", (s, dir) => {
      val (ng, nu) = Text.ngramCounts(col("text"), 2)
      t(s, dir, "documents")
        .select(col("doc_id"), ng.cast("long").as("n_grams"),
          nu.cast("long").as("n_unique"),
          Text.dupNgramRatio(col("text"), 2).as("dup_ratio"))
        .orderBy(col("doc_id"))
    },
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(ws) >= 2
        |        THEN list_transform(range(1, CAST(len(ws) AS BIGINT)), i -> array_to_string(ws[i:i+1], ' '))
        |        ELSE [] END AS grams FROM w)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_unique,
        |  CASE WHEN len(grams) <= 0 THEN 0.0
        |    ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) END AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin),

    // --- sharded deterministic shuffle (Splits.shardAndShuffle): hash
    //     shard assignment + stable pseudo-random within-shard order for
    //     training-data export; reproducible run-over-run, no rand() ---
    Gate("q_shard_shuffle", (s, dir) => {
      Splits.shardAndShuffle(t(s, dir, "documents").select(col("doc_id")), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }, {
      val shardExpr = Splits.shardCuts(8)
        .map(c => s"(CASE WHEN substr(h, 1, 4) >= '$c' THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH h AS (SELECT doc_id, md5('graft|' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
         |SELECT doc_id, CAST($shardExpr AS INTEGER) AS shard,
         |  row_number() OVER (PARTITION BY ($shardExpr) ORDER BY h, doc_id) AS pos
         |FROM h ORDER BY shard, pos""".stripMargin
    }),

    // --- benchmark decontamination (Similarity.benchmarkOverlap): the
    //     GPT-3-style contamination check — fraction of each corpus
    //     doc's distinct 3-grams that appear in the benchmark/eval set
    //     (here: docs with doc_id % 19 == 0). The benchmark shingle set
    //     is gated-broadcast (eval sets are small by nature); corpus
    //     docs too short to shingle surface with ratio 0 ---------------
    Gate("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val benchmark = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      Similarity.benchmarkOverlap(corpus, benchmark, "doc_id", "text",
          n = 3, threshold = 0.05)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      """WITH docsh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [] END)) AS s
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |        FROM documents)
        |), bench AS (
        |  SELECT DISTINCT s FROM docsh WHERE doc_id % 19 = 0
        |), hits AS (
        |  SELECT d.doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap
        |  FROM docsh d LEFT JOIN bench b ON d.s = b.s
        |  WHERE d.doc_id % 19 <> 0
        |  GROUP BY d.doc_id
        |)
        |SELECT doc.doc_id,
        |  coalesce(h.n_shingles, 0) AS n_shingles,
        |  coalesce(h.n_overlap, 0) AS n_overlap,
        |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) /
        |    CAST(greatest(coalesce(h.n_shingles, 0), 1) AS DOUBLE) AS overlap_ratio,
        |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) /
        |    CAST(greatest(coalesce(h.n_shingles, 0), 1) AS DOUBLE) >= 0.05 AS contaminated
        |FROM documents doc LEFT JOIN hits h ON doc.doc_id = h.doc_id
        |WHERE doc.doc_id % 19 <> 0
        |ORDER BY doc.doc_id""".stripMargin),

    // --- greedy sequence packing (Packing.packGreedy): documents
    //     packed into 256-token training sequences, greedy in (shard,
    //     doc_id) order, one linear pass per shard. The oracle replays
    //     the greedy recurrence with a per-shard recursive CTE — the
    //     strongest possible check of an order-sensitive fold ----------
    Gate("q_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          Text.tokenCount(col("text")).as("n_tok"))
      Packing.packGreedy(docs, "shard", "doc_id", "n_tok", budget = 256)
        .orderBy(col("shard"), col("doc_id"))
    },
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS INT) AS n_tok,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents
        |), rec(shard, doc_id, n_tok, rn, seq_id, fill) AS (
        |  SELECT shard, doc_id, n_tok, rn, CAST(0 AS BIGINT), CAST(n_tok AS BIGINT)
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tok, d.rn,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.seq_id ELSE r.seq_id + 1 END,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.fill + d.n_tok ELSE CAST(d.n_tok AS BIGINT) END
        |  FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
        |)
        |SELECT shard, doc_id, n_tok, seq_id FROM rec
        |ORDER BY shard, doc_id""".stripMargin),

    // --- sliding-window context chunking (Text.chunkTokens): doc ->
    //     overlapping 32-token chunks at stride 24, the standard
    //     context-window split before tokenization. Pure codegen'd
    //     sequence/slice composition; the oracle replays the exact
    //     integer chunk-count ceil and list slices ---------------------
    Gate("q_chunk_tokens", (s, dir) => {
      t(s, dir, "documents")
        // tokens materialized as a column: the chunk lambda then
        // captures a cheap array attribute, not the tokenizer tree
        .select(col("doc_id"), Text.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          posexplode(Text.chunkTokensOfTokens(col("_toks"), chunkSize = 32, stride = 24))
            .as(Seq("chunk_id", "chunk_text")))
        .select(col("doc_id"), col("chunk_id"),
          size(Text.tokens(col("chunk_text"))).as("n_chunk_tokens"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents
        |)
        |SELECT doc_id, CAST(ch.k AS INT) AS chunk_id,
        |  CAST(len(t[ch.k * 24 + 1 : ch.k * 24 + 32]) AS INT) AS n_chunk_tokens,
        |  array_to_string(t[ch.k * 24 + 1 : ch.k * 24 + 32], ' ') AS chunk_text
        |FROM toks, LATERAL (
        |  SELECT unnest(range(0, (greatest(len(t) - 32, 0) + 23) // 24 + 1)) AS k) ch
        |ORDER BY doc_id, chunk_id""".stripMargin),

    // --- Unicode normalization (NormalizeNfc / StripAccents native
    //     expressions): accents planted via translate() so the strip
    //     path actually fires on the ASCII corpus; restored text must
    //     round-trip to the original. DuckDB's nfc_normalize /
    //     strip_accents replay both normal forms --------------------
    Gate("q_normalize_text", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          translate(col("text"), "aeiou", "áéíóú").as("planted"))
        .withColumn("restored", StripAccents(NormalizeNfc(col("planted"))))
        .withColumn("roundtrip", col("restored") === col("text"))
        .select(col("doc_id"), col("planted"), col("restored"), col("roundtrip"))
        .orderBy(col("doc_id"))
    },
      """WITH p AS (
        |  SELECT doc_id, text, translate(text, 'aeiou', 'áéíóú') AS planted
        |  FROM documents
        |)
        |SELECT doc_id, planted,
        |  strip_accents(nfc_normalize(planted)) AS restored,
        |  strip_accents(nfc_normalize(planted)) = text AS roundtrip
        |FROM p ORDER BY doc_id""".stripMargin),

    // --- URL extraction + domain blocklist (Text.extractUrls/domains/
    //     hasBlockedDomain): the C4/RefinedWeb source filter. URLs are
    //     planted deterministically from table columns so extraction
    //     actually fires; patterns are RE2-safe so DuckDB replays them
    //     verbatim --------------------------------------------------
    Gate("q_url_blocklist", (s, dir) => {
      val raw = concat(
        substring(col("text"), 1, 30), lit(" see https://"), col("source"), lit("."),
        col("lang"), lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" and http://ads.tracker"), pmod(col("doc_id"), lit(3)).cast("string"),
        lit(".net/x?id="), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          size(Text.extractUrls(col("raw"))).as("n_urls"),
          array_join(array_sort(Text.domains(col("raw"))), ",").as("domain_list"),
          Text.hasBlockedDomain(col("raw"),
            Seq("ads.tracker0.net", "ads.tracker2.net")).as("blocked"))
        .orderBy(col("doc_id"))
    }, {
      s"""WITH r AS (
         |  SELECT doc_id,
         |    substring(text, 1, 30) || ' see https://' || source || '.' || lang ||
         |    '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' and http://ads.tracker' ||
         |    CAST(doc_id % 3 AS VARCHAR) || '.net/x?id=' || CAST(doc_id AS VARCHAR) AS raw
         |  FROM documents
         |), u AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct(list_transform(
         |      regexp_extract_all(raw, '${Text.UrlRe}', 0),
         |      x -> lower(regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1))))) AS doms,
         |    CAST(len(regexp_extract_all(raw, '${Text.UrlRe}', 0)) AS INT) AS n_urls
         |  FROM r
         |)
         |SELECT doc_id, n_urls, array_to_string(doms, ',') AS domain_list,
         |  len(list_filter(doms, d -> d IN ('ads.tracker0.net', 'ads.tracker2.net'))) > 0 AS blocked
         |FROM u ORDER BY doc_id""".stripMargin
    }),

    // --- packed-sequence materialization (Packing.
    //     materializeSequences): the rows a tokenizer consumes — member
    //     docs concatenated in doc_id order. The per-group collect is
    //     bounded by the token budget BY CONSTRUCTION; the oracle
    //     replays pack assignment (recursive CTE) + ordered string_agg -
    Gate("q_pack_texts", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          Text.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.packGreedy(docs, "shard", "doc_id", "n_tok", budget = 256)
      Packing.materializeSequences(packed, t(s, dir, "documents"),
          "doc_id", "text", " <|doc|> ")
        .orderBy(col("shard"), col("seq_id"))
    },
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS INT) AS n_tok,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents
        |), rec(shard, doc_id, n_tok, rn, seq_id, fill) AS (
        |  SELECT shard, doc_id, n_tok, rn, CAST(0 AS BIGINT), CAST(n_tok AS BIGINT)
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tok, d.rn,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.seq_id ELSE r.seq_id + 1 END,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.fill + d.n_tok ELSE CAST(d.n_tok AS BIGINT) END
        |  FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
        |)
        |SELECT r.shard, r.seq_id, count(*) AS n_docs,
        |  CAST(sum(r.n_tok) AS BIGINT) AS seq_tokens,
        |  string_agg(d.text, ' <|doc|> ' ORDER BY r.doc_id) AS seq_text
        |FROM rec r JOIN documents d ON r.doc_id = d.doc_id
        |GROUP BY r.shard, r.seq_id
        |ORDER BY shard, seq_id""".stripMargin),

    // --- corpus health report (per-language distribution stats): the
    //     dataset card a corpus release ships with. Percentiles are
    //     Spark's exact `percentile` (sort + linear interpolation —
    //     same formula as DuckDB quantile_cont); variance is EXACT
    //     integer arithmetic (n*Σx² - (Σx)²) / n² cast to double at
    //     the end — never an accumulation-order-dependent float agg --
    Gate("q_corpus_report", (s, dir) => {
      val n = Text.tokenCount(col("text")).cast("long")
      val agg = t(s, dir, "documents")
        .select(col("lang"), n.as("n"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n")).as("min_tok"), max(col("n")).as("max_tok"),
          percentile(col("n"), lit(0.5)).as("median_tok"),
          percentile(col("n"), lit(0.9)).as("p90_tok"),
          sum(col("n")).as("_s"), sum(col("n") * col("n")).as("_ss"))
      agg.select(col("lang"), col("n_docs"), col("min_tok"), col("max_tok"),
          col("median_tok"), col("p90_tok"),
          (col("_s").cast("double") / col("n_docs")).as("mean_tok"),
          ((col("n_docs") * col("_ss") - col("_s") * col("_s")).cast("double") /
            (col("n_docs").cast("double") * col("n_docs"))).as("var_tok"))
        .orderBy(col("lang"))
    },
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs, min(n) AS min_tok, max(n) AS max_tok,
        |  quantile_cont(n, 0.5) AS median_tok, quantile_cont(n, 0.9) AS p90_tok,
        |  CAST(sum(n) AS DOUBLE) / count(*) AS mean_tok,
        |  CAST(count(*) * sum(n * n) - sum(n) * sum(n) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * count(*)) AS var_tok
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // --- FLAGSHIP corpus pipeline: the full pre-tokenizer chain in one
    //     oracle-checked run — quality gate -> exact dedup (min-id
    //     survivor) -> benchmark decontamination -> per-language
    //     stratified rebalance -> greedy sequence packing. Every stage
    //     is the REAL operator; the oracle replays the whole chain,
    //     including the final greedy fold over exactly the surviving
    //     docs ------------------------------------------------------
    Gate("q_corpus_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val benchmark = docs.filter(pmod(col("doc_id"), lit(19)) === 0)
      // 1. quality floor
      val quality = docs.filter(Text.qualityScore(col("text")) >= 0.7)
      // 2. exact dedup, deterministic min-id survivor
      val deduped = graft.operators.Dedup.keepMaxBy(
        quality.withColumn("_fp", Text.fingerprint(col("text")))
          .withColumn("_negid", -col("doc_id")),
        keys = Seq("_fp"), delta = Seq("_negid"))
        .drop("_fp", "_negid")
      // 3. drop benchmark members + contaminated docs
      val corpus = deduped.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      val clean = corpus.join(
        Similarity.benchmarkOverlap(corpus, benchmark, "doc_id", "text",
            n = 3, threshold = 0.15)
          .filter(!col("contaminated"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      // 4. rebalance languages
      val balanced = Converters.sampleFractionPerGroup("lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 1.0)(clean)
      // 5. pack into training sequences
      val counted = balanced.select(col("doc_id"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        Text.tokenCount(col("text")).as("n_tok"))
      Packing.packGreedy(counted, "shard", "doc_id", "n_tok", budget = 256)
        .orderBy(col("shard"), col("doc_id"))
    }, {
      import graft.operators.Converters.fractionCut
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, lang, text, tk FROM toks
        |  WHERE (CASE WHEN len(tk) BETWEEN 20 AND 10000 THEN 0.5 ELSE 0.0 END
        |    + CASE WHEN (CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / CAST(greatest(len(tk), 1) AS DOUBLE)) > 0.0 THEN 0.3 ELSE 0.0 END)
        |    + CASE WHEN (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |        / CAST(greatest(length(text), 1) AS DOUBLE)) < 0.1 THEN 0.2 ELSE 0.0 END >= 0.7
        |), dd AS (
        |  SELECT doc_id, lang, tk FROM q
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |), benchsh AS (
        |  SELECT DISTINCT unnest(list_distinct(CASE WHEN len(tk) >= 3
        |    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
        |    ELSE [] END)) AS s
        |  FROM toks WHERE doc_id % 19 = 0
        |), docsh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 3
        |    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
        |    ELSE [] END)) AS s
        |  FROM dd WHERE doc_id % 19 <> 0
        |), hits AS (
        |  SELECT d.doc_id, count(*) AS n_sh,
        |    sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END) AS n_ov
        |  FROM docsh d LEFT JOIN benchsh b ON d.s = b.s GROUP BY d.doc_id
        |), clean AS (
        |  SELECT dd.doc_id, dd.lang, dd.tk FROM dd
        |  LEFT JOIN hits h ON h.doc_id = dd.doc_id
        |  WHERE dd.doc_id % 19 <> 0
        |    AND CAST(coalesce(h.n_ov, 0) AS DOUBLE)
        |      / CAST(greatest(coalesce(h.n_sh, 0), 1) AS DOUBLE) < 0.15
        |), bal AS (
        |  SELECT doc_id, tk FROM clean
        |  WHERE substring(md5('graft' || '|' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |""".stripMargin +
      s"""    CASE WHEN lang = 'de' THEN '${fractionCut(0.25)}'
         |         WHEN lang = 'en' THEN '${fractionCut(0.5)}' ELSE 'g' END
         |""".stripMargin +
      """), pdocs AS (
        |  SELECT doc_id % 8 AS shard, doc_id, CAST(len(tk) AS INT) AS n_tok,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM bal
        |), rec(shard, doc_id, n_tok, rn, seq_id, fill) AS (
        |  SELECT shard, doc_id, n_tok, rn, CAST(0 AS BIGINT), CAST(n_tok AS BIGINT)
        |  FROM pdocs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tok, d.rn,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.seq_id ELSE r.seq_id + 1 END,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.fill + d.n_tok ELSE CAST(d.n_tok AS BIGINT) END
        |  FROM rec r JOIN pdocs d ON d.shard = r.shard AND d.rn = r.rn + 1
        |)
        |SELECT shard, doc_id, n_tok, seq_id FROM rec
        |ORDER BY shard, doc_id""".stripMargin
    }),

    // --- stratified per-group fraction sampling (Converters.
    //     sampleFractionPerGroup): rebalance the corpus by language —
    //     en halved, de quartered, everything else at 10%. md5-prefix
    //     thresholds, so membership is stable under growth and the
    //     oracle replays the exact compare --------------------------
    Gate("q_stratified_sample", (s, dir) => {
      Converters.sampleFractionPerGroup("lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)(
          t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, {
      import graft.operators.Converters.fractionCut
      s"""SELECT doc_id, lang FROM documents
         |WHERE substring(md5('graft' || '|' || CAST(doc_id AS VARCHAR)), 1, 4) <
         |  CASE WHEN lang = 'de' THEN '${fractionCut(0.25)}'
         |       WHEN lang = 'en' THEN '${fractionCut(0.5)}'
         |       ELSE '${fractionCut(0.1)}' END
         |ORDER BY doc_id""".stripMargin
    }),

    // --- instrumented metrics (ref gobblin-core-base instrumented
    //     decorators + JobMetrics): run a real JobRunner job and emit
    //     its OBSERVED counters as the result — rows written (from the
    //     write-riding Observation), quarantined rows, the committed
    //     high watermark, and the write's numOutputRows as seen by the
    //     QueryExecutionListener. The oracle recomputes every counter
    //     from the raw table ------------------------------------------
    Gate("q_observed_metrics", (s, dir) => {
      import graft.metrics.GraftListener
      import graft.model.JobSpec
      import graft.runner.JobRunner
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_metrics")
      val listener = GraftListener.install(s)
      try {
        val rr = JobRunner.run(
          s, new FsStateStore(s"$tmp/state"), JobSpec("gate_metrics"),
          read = sess => Tables.load(sess, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          watermarkCol = "event_id",
          ops = Seq.empty,
          rowPolicies = Seq(graft.quality.Quality.RowPolicy(
            "vcap", col("value") <= 150, graft.quality.Quality.ErrFile)),
          taskPolicies = Nil,
          sink = (s"$tmp/staging", s"$tmp/out", Nil),
          quarantineDir = Some(s"$tmp/quarantine"))
        require(rr.published, s"metrics job must publish: $rr")
        // listener callbacks ride the async listener bus; poll until the
        // staged write's numOutputRows shows up (bounded)
        var tries = 0
        def writeRows: Option[Long] = listener.snapshot
          .find(m => !m.failed && m.outputRows.contains(rr.rowsWritten))
          .flatMap(_.outputRows)
        while (writeRows.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
        val lr = writeRows.getOrElse(sys.error("listener never saw the staged write"))
        import s.implicits._
        Seq(
          ("high_watermark", rr.highWatermark.getOrElse(-1L)),
          ("listener_rows_out", lr),
          ("published_runs", 1L),
          ("quarantined", rr.quarantined),
          ("rows_written", rr.rowsWritten))
          .toDF("metric", "value").orderBy(col("metric"))
      } finally s.listenerManager.unregister(listener)
    },
      """SELECT 'high_watermark' AS metric, max(event_id) AS value FROM events WHERE value <= 150
        |UNION ALL SELECT 'listener_rows_out', count(*) FROM events WHERE value <= 150
        |UNION ALL SELECT 'published_runs', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'quarantined', count(*) FROM events WHERE value > 150
        |UNION ALL SELECT 'rows_written', count(*) FROM events WHERE value <= 150
        |ORDER BY metric""".stripMargin),

    // --- Gopher-style repetition quality signals: mean word length,
    //     duplicate-trigram ratio, symbol-to-word ratio, and the
    //     top-bigram character-coverage fraction (TermStats
    //     .topNgramPerDoc — explode + (doc, gram) hash agg + per-doc
    //     window, never a per-row quadratic scan). Symbols are planted
    //     on doc_id % 7 so the signal actually fires ------------------
    Gate("q_repetition_signals", (s, dir) => {
      import graft.functions.{TermStats, Text}
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" ## fin ... fin ##"))
            .otherwise(lit(""))).as("text2"))
      val base = docs.select(col("doc_id"),
        Text.meanTokenLen(col("text2")).as("mean_word_len"),
        Text.dupNgramRatio(col("text2"), 3).as("dup_tri_ratio"),
        Text.symbolWordRatio(col("text2")).as("sym_ratio"))
      val top = TermStats.topNgramPerDoc(docs, "doc_id", "text2", 2)
        .withColumnRenamed("id", "doc_id")
      base.join(top, Seq("doc_id")).orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' ## fin ... fin ##' ELSE '' END AS text
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM d
        |), base AS (
        |  SELECT doc_id,
        |    CAST(len(text) - len(t) + 1 AS DOUBLE) / greatest(len(t), 1) AS mean_word_len,
        |    CASE WHEN len(t) >= 3 THEN
        |      CAST(len(t) - 2 - len(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE) / (len(t) - 2)
        |      ELSE 0.0 END AS dup_tri_ratio,
        |    CASE WHEN len(t) <= 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(t)
        |      END AS sym_ratio
        |  FROM tok
        |), big AS (
        |  SELECT doc_id, len(text) AS chars,
        |    unnest(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |      ELSE [] END) AS gram
        |  FROM tok
        |), cnt AS (
        |  SELECT doc_id, chars, gram, count(*) AS n_occ FROM big GROUP BY ALL
        |), top AS (
        |  SELECT doc_id, gram AS top_gram, n_occ,
        |    CASE WHEN chars > 0 THEN CAST(n_occ * len(gram) AS DOUBLE) / chars
        |         ELSE 0.0 END AS char_frac
        |  FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n_occ DESC, gram) = 1
        |)
        |SELECT b.doc_id, b.mean_word_len, b.dup_tri_ratio, b.sym_ratio,
        |  coalesce(top_gram, '') AS top_gram, coalesce(n_occ, 0) AS n_occ,
        |  coalesce(char_frac, 0.0) AS char_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin),

    // --- corpus-mix rebalance (Converters.rebalanceToTargetMix): the
    //     DoReMi-style static reweighting — every language downsampled
    //     to a uniform target mix, fractions DERIVED FROM THE DATA
    //     (one aggregate) and applied through the md5-threshold filter.
    //     The oracle recomputes shares, fractions, AND the 4-hex
    //     threshold (printf %04x of round(f*65536)) in SQL -----------
    Gate("q_domain_rebalance", (s, dir) => {
      Converters.rebalanceToTargetMix(t(s, dir, "documents"), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS k FROM c
        |), f AS (
        |  SELECT lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(1.0 AS DOUBLE) / k) / (CAST(n AS DOUBLE) / total)) AS frac
        |  FROM c, tot
        |), cuts AS (
        |  SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
        |    ELSE printf('%04x', CAST(least(round(frac * 65536), 65535) AS BIGINT))
        |    END AS cut
        |  FROM f
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cuts ON d.lang = cuts.lang
        |WHERE substring(md5('graft' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 4) < cuts.cut
        |ORDER BY d.doc_id""".stripMargin),

    // --- dataset lineage events (ref gobblin-metrics-base
    //     LineageInfo.java:86-311): a REAL forked pipeline — events
    //     split into two branches, each staged+published through the
    //     Publisher with its row count observed on the write — records
    //     source + per-branch destinations in the state store; the
    //     lineage events load back as a DataFrame. The oracle recomputes
    //     each branch's row count from the events table -------------
    Gate("q_lineage", (s, dir) => {
      import graft.metrics.Lineage
      import graft.metrics.Lineage.Descriptor
      import graft.sink.{Publisher, SinkSpec}
      import graft.state.FsStateStore
      val tmp = tmpDir("graft_lineage")
      val store = new FsStateStore(s"$tmp/state")
      val publisher = new Publisher(s.sparkContext.hadoopConfiguration)
      val events = t(s, dir, "events")
      Lineage.setSource(store, "lineage_job", "events",
        Descriptor("file", "events"))
      Seq(
        ("purchase", col("event_type") === "purchase"),
        ("other", col("event_type") =!= "purchase")
      ).zipWithIndex.foreach { case ((name, pred), i) =>
        val obs = org.apache.spark.sql.Observation()
        val spec = SinkSpec(s"$tmp/stg_$name", s"$tmp/out_$name")
        publisher.writeStaged(
          events.filter(pred).observe(obs, count(lit(1)).as("rows")), spec)
        publisher.publish(spec)
        Lineage.putDestination(store, "lineage_job", i,
          Descriptor("file", s"events_$name"),
          obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L))
      }
      Lineage.load(s, store, Seq("lineage_job")).orderBy(col("branch"))
    },
      """SELECT * FROM (
        |  SELECT 'lineage_job' AS job, 'events' AS dataset, 0 AS branch,
        |    'file:events' AS src, 'file:events_purchase' AS dst,
        |    count(*) FILTER (event_type = 'purchase') AS n_rows
        |  FROM events
        |  UNION ALL
        |  SELECT 'lineage_job', 'events', 1, 'file:events',
        |    'file:events_other',
        |    count(*) FILTER (event_type <> 'purchase')
        |  FROM events
        |) ORDER BY branch""".stripMargin),

    // --- temperature mixture weights (UniMax/T5 α=0.5): per-language
    //     sampling weights and epochs from one corpus aggregation;
    //     sqrt + order-pinned running-sum normalization keep every
    //     double bit-reproducible in DuckDB ------------------------
    Gate("q_mix_temperature", (s, dir) =>
      Converters.mixtureTemperature(t(s, dir, "documents"), "lang")
        .orderBy(col("domain")),
      """WITH c AS (
        |  SELECT lang AS domain, count(*) AS n FROM documents GROUP BY lang),
        |w AS (
        |  SELECT domain, n,
        |    CAST(n AS DOUBLE) / (SELECT sum(n) FROM c) AS share,
        |    (SELECT sum(n) FROM c) AS total
        |  FROM c),
        |r AS (
        |  SELECT domain, n, share, total,
        |    CAST(floor(sqrt(share) * 1099511627776.0) AS BIGINT) AS swq
        |  FROM w),
        |d AS (SELECT sum(swq) AS denomq FROM r)
        |SELECT domain, n, share,
        |  CAST(swq AS DOUBLE) / CAST((SELECT denomq FROM d) AS DOUBLE) AS weight,
        |  CAST(swq AS DOUBLE) / CAST((SELECT denomq FROM d) AS DOUBLE)
        |    * CAST(total AS DOUBLE) / n AS epochs
        |FROM r ORDER BY domain""".stripMargin),

    // --- temperature resampling MATERIALIZED: every doc emitted
    //     floor(epochs) times + a deterministic fractional copy —
    //     rare languages repeat (epochs > 1), over-represented ones
    //     thin out. The gate aggregates the EXPLODED corpus; the
    //     oracle replays epochs, per-doc copy counts, and the same
    //     aggregates analytically (never expanding rows) -------------
    Gate("q_temperature_resample", (s, dir) => {
      val out = Converters.temperatureResample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id")
      out.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_out"),
          sum(col("doc_id")).as("id_weighted_sum"))
        .join(t(s, dir, "documents").groupBy(col("lang"))
          .agg(count(lit(1)).as("n_in")), Seq("lang"))
        .select(col("lang"), col("n_in"), col("n_out"),
          col("id_weighted_sum"))
        .orderBy(col("lang"))
    },
      """WITH c AS (
        |  SELECT lang AS domain, count(*) AS n FROM documents GROUP BY lang),
        |w AS (
        |  SELECT domain, n,
        |    CAST(n AS DOUBLE) / (SELECT sum(n) FROM c) AS share,
        |    (SELECT sum(n) FROM c) AS total
        |  FROM c),
        |r AS (
        |  SELECT domain, n, share, total,
        |    CAST(floor(sqrt(share) * 1099511627776.0) AS BIGINT) AS swq
        |  FROM w),
        |d0 AS (SELECT sum(swq) AS denomq FROM r),
        |e AS (
        |  SELECT domain, n AS n_in,
        |    CAST(swq AS DOUBLE) / CAST((SELECT denomq FROM d0) AS DOUBLE)
        |      * CAST(total AS DOUBLE) / n AS epochs
        |  FROM r),
        |d AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(e.epochs) AS BIGINT)
        |      + CASE WHEN substring(md5('graft' || '|' ||
        |                 CAST(doc_id AS VARCHAR)), 1, 4)
        |              < printf('%04x', CAST(least(floor(
        |                  (e.epochs - floor(e.epochs)) * 65536), 65535)
        |                AS BIGINT))
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM documents JOIN e ON lang = e.domain)
        |SELECT d.lang, e2.n_in,
        |  CAST(sum(d.n_copies) AS BIGINT) AS n_out,
        |  CAST(sum(d.doc_id * d.n_copies) AS BIGINT) AS id_weighted_sum
        |FROM d JOIN e e2 ON d.lang = e2.domain
        |GROUP BY d.lang, e2.n_in ORDER BY d.lang""".stripMargin),

    // --- column profiling (quality.Profile): the dataset health
    //     report — per-column nulls/distinct/range in ONE aggregation
    //     pass, melted to long; integer/string columns only so value
    //     renderings are engine-stable. NULLs planted so the null
    //     counter provably fires -------------------------------------
    Gate("q_profile", (s, dir) => {
      import graft.quality.Profile
      val e = t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        when(pmod(col("event_id"), lit(11)) === 0, lit(null))
          .otherwise(col("event_type")).as("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      Profile.profile(e, Seq("event_id", "user_id", "event_type", "v_milli"))
        .orderBy(col("column"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE event_type END AS event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_milli
        |  FROM events)
        |SELECT "column", n_rows, n_nulls, n_distinct, min_repr, max_repr
        |FROM (
        |  SELECT 'event_id' AS "column", count(*) AS n_rows,
        |    count(*) FILTER (event_id IS NULL) AS n_nulls,
        |    count(DISTINCT event_id) AS n_distinct,
        |    CAST(min(event_id) AS VARCHAR) AS min_repr,
        |    CAST(max(event_id) AS VARCHAR) AS max_repr FROM e
        |  UNION ALL
        |  SELECT 'event_type', count(*),
        |    count(*) FILTER (event_type IS NULL),
        |    count(DISTINCT event_type),
        |    min(event_type), max(event_type) FROM e
        |  UNION ALL
        |  SELECT 'user_id', count(*),
        |    count(*) FILTER (user_id IS NULL),
        |    count(DISTINCT user_id),
        |    CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |  FROM e
        |  UNION ALL
        |  SELECT 'v_milli', count(*),
        |    count(*) FILTER (v_milli IS NULL),
        |    count(DISTINCT v_milli),
        |    CAST(min(v_milli) AS VARCHAR), CAST(max(v_milli) AS VARCHAR)
        |  FROM e
        |) ORDER BY "column"""".stripMargin),

    // --- packing efficiency report (Packing.packStats): per-sequence
    //     document counts, token fill, and fill ratio over the greedy
    //     packing — the waste metric a training pipeline watches. The
    //     oracle replays the greedy recurrence then aggregates ------
    Gate("q_pack_stats", (s, dir) => {
      import graft.functions.Text
      import graft.operators.Packing
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          Text.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.packGreedy(docs, "shard", "doc_id", "n_tok",
        budget = 256)
      Packing.packStats(packed, budget = 256)
        .orderBy(col("shard"), col("seq_id"))
    },
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         x -> len(x) > 0)) AS INT) AS n_tok,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents
        |), rec(shard, doc_id, n_tok, rn, seq_id, fill) AS (
        |  SELECT shard, doc_id, n_tok, rn, CAST(0 AS BIGINT),
        |         CAST(n_tok AS BIGINT)
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.doc_id, d.n_tok, d.rn,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.seq_id
        |         ELSE r.seq_id + 1 END,
        |    CASE WHEN r.fill + d.n_tok <= 256 THEN r.fill + d.n_tok
        |         ELSE CAST(d.n_tok AS BIGINT) END
        |  FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
        |)
        |SELECT shard, seq_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
        |  CAST(sum(n_tok) AS DOUBLE) / 256 AS fill_ratio
        |FROM rec GROUP BY shard, seq_id
        |ORDER BY shard, seq_id""".stripMargin),

    // --- value audit (ref gobblin-audit: ValueAuditGenerator,
    //     row-selection + column-projection policies, FsAuditSink):
    //     snapshot the same deterministic row sample at two pipeline
    //     phases — the second with planted corruptions (bumped
    //     values, case-mangled types, dropped records) — and diff the
    //     snapshots. The oracle replays sample, corruption, and diff -
    Gate("q_value_audit", (s, dir) => {
      import graft.quality.ValueAudit
      val tmp = tmpDir("graft_audit")
      val events = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * 1000).cast("long").as("v_milli"))
      val policy = ValueAudit.rowSample(col("event_id"), 0.25)
      val cols = Seq("event_id", "event_type", "v_milli")
      ValueAudit.snapshot(events, tmp, "events", "extract", policy, cols)
      val corrupted = events
        .withColumn("v_milli",
          when(pmod(col("event_id"), lit(97)) === 0, col("v_milli") + 1)
            .otherwise(col("v_milli")))
        .withColumn("event_type",
          when(pmod(col("event_id"), lit(101)) === 0, upper(col("event_type")))
            .otherwise(col("event_type")))
        .filter(pmod(col("event_id"), lit(499)) =!= 0)
      ValueAudit.snapshot(corrupted, tmp, "events", "convert", policy, cols)
      ValueAudit.compare(s, tmp, "events", "extract", "convert", "event_id")
        .orderBy(col("column"))
    },
      """WITH src AS (
        |  SELECT event_id, event_type,
        |         CAST(floor(value * 1000) AS BIGINT) AS v_milli
        |  FROM events
        |  WHERE substr(md5('audit|' || CAST(event_id AS VARCHAR)), 1, 4)
        |        < '4000'),
        |conv AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 101 = 0 THEN upper(event_type)
        |         ELSE event_type END AS event_type,
        |    CASE WHEN event_id % 97 = 0 THEN v_milli + 1
        |         ELSE v_milli END AS v_milli
        |  FROM src WHERE event_id % 499 <> 0),
        |j AS (
        |  SELECT s.event_id AS ida, c.event_id AS idb,
        |         s.event_type AS a_et, c.event_type AS b_et,
        |         s.v_milli AS a_v, c.v_milli AS b_v
        |  FROM src s FULL OUTER JOIN conv c ON s.event_id = c.event_id),
        |agg AS (SELECT
        |  count(*) FILTER (ida IS NOT NULL AND idb IS NOT NULL) AS n_common,
        |  count(*) FILTER (ida IS NOT NULL AND idb IS NOT NULL
        |                   AND a_et IS DISTINCT FROM b_et) AS mm_et,
        |  count(*) FILTER (ida IS NOT NULL AND idb IS NOT NULL
        |                   AND a_v IS DISTINCT FROM b_v) AS mm_v,
        |  count(*) FILTER (idb IS NULL) AS only_a,
        |  count(*) FILTER (ida IS NULL) AS only_b
        |  FROM j)
        |SELECT 'event_type' AS "column", n_common, mm_et AS n_mismatch,
        |       only_a AS n_only_a, only_b AS n_only_b FROM agg
        |UNION ALL
        |SELECT 'v_milli', n_common, mm_v, only_a, only_b FROM agg
        |ORDER BY "column"""".stripMargin),

    // --- BPE merge induction (tokenizer training): the first six
    //     merges learned over the en word dictionary — pair counting
    //     is a weighted hash agg over the vocab-sized dict, the merge
    //     fold is the left-greedy aggregate HOF, the argmax is O(1)
    //     driver metadata. The oracle replays all six layers ---------
    Gate("q_bpe_merges", (s, dir) => {
      import graft.functions.Bpe
      import s.implicits._
      val dict = Bpe.wordDict(
        t(s, dir, "documents").filter(col("lang") === "en"), "text")
      Bpe.learnMerges(dict, 6)
        .map(m => (m.step, m.pair, m.count))
        .toDF("step", "pair", "cnt")
        .orderBy(col("step"))
    }, OracleSql.bpeMerges(6)),

    // --- HTML strip + URL canonicalization (C4-style pre-cleaning):
    //     markup planted around real text is stripped (tags, the five
    //     entities, whitespace collapse); messy URLs built from data
    //     columns canonicalize (case, default port, fragment, utm_*,
    //     trailing slash). The oracle replays both regexp pipelines --
    Gate("q_html_url_clean", (s, dir) => {
      import graft.functions.Text
      val raw = concat(lit("<p>"), substring(col("text"), 1, 40),
        lit("</p> <a href=\"x\">"), col("lang"),
        lit("</a> &amp; <br/> done"))
      val messyUrl = concat(lit("HTTPS://WWW."), col("source"), lit("."),
        col("lang"), lit(".Example.COM:443/P/"), col("doc_id").cast("string"),
        lit("/?utm_source=s&id="), col("doc_id").cast("string"),
        lit("&utm_campaign=c#frag"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.stripHtml(raw).as("clean_text"),
          Text.normalizeUrl(messyUrl).as("clean_url"))
        .orderBy(col("doc_id"))
    },
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<p>' || substring(text, 1, 40) || '</p> <a href="x">' || lang
        |      || '</a> &amp; <br/> done' AS h,
        |    'HTTPS://WWW.' || source || '.' || lang || '.Example.COM:443/P/'
        |      || CAST(doc_id AS VARCHAR) || '/?utm_source=s&id='
        |      || CAST(doc_id AS VARCHAR) || '&utm_campaign=c#frag' AS m
        |  FROM documents),
        |st AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(h, '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', CHR(39)), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean_text,
        |    regexp_replace(m, '#.*', '') AS nf
        |  FROM raw),
        |parts AS (
        |  SELECT doc_id, clean_text,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)', 1) AS rest
        |  FROM st)
        |SELECT doc_id, clean_text,
        |  regexp_replace(rtrim(
        |    scheme || '://'
        |      || CASE WHEN scheme = 'http'
        |              THEN regexp_replace(host, ':80$', '')
        |              WHEN scheme = 'https'
        |              THEN regexp_replace(host, ':443$', '')
        |              ELSE host END
        |      || regexp_replace(rest,
        |           '([?&])utm_[A-Za-z]+=[^&]*(&utm_[A-Za-z]+=[^&]*)*&?',
        |           '\1', 'g'),
        |    '?&'), '/$', '') AS clean_url
        |FROM parts ORDER BY doc_id""".stripMargin),

    // --- CCNet head/middle/tail bucketing: per-language TERCILES of
    //     the LM score split each language's corpus into quality
    //     bands with DATA-DRIVEN boundaries. Scores quantize to
    //     integers first (floor(ratio * 2^20)) because interpolated
    //     percentile is only proven bit-identical across engines over
    //     BIGINT inputs (NOTES rule 8) ---------------------------
    Gate("q_ccnet_buckets", (s, dir) => {
      import graft.functions.NgramLm
      val docs = t(s, dir, "documents")
      // three planted corruption levels -> three genuine score bands
      val planted = docs.withColumn("text2",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(Garble)))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(col("text"), lit(GarbleShort)))
          .otherwise(col("text")))
      val lm = NgramLm.train(docs.filter(col("lang") === "en"), "text")
      // materialize scores once: both the tercile aggregation and the
      // bucket join read them, and recomputing means running the LM
      // scoring pipeline twice (same hygiene as q_governed_pipeline)
      val tmp = tmpDir("graft_ccnet")
      NgramLm.score(planted, "doc_id", "text2", lm)
        .withColumnRenamed("id", "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          floor(coalesce(col("hit_ratio"), lit(0.0)) * 1048576)
            .cast("long").as("score_q"))
        .write.parquet(s"$tmp/scored")
      val scored = s.read.parquet(s"$tmp/scored")
      val terciles = scored.groupBy(col("lang")).agg(
        percentile(col("score_q"), lit(1.0 / 3)).as("p33"),
        percentile(col("score_q"), lit(2.0 / 3)).as("p66"))
      scored.join(broadcast(terciles), Seq("lang"))
        .withColumn("bucket",
          when(col("score_q") <= col("p33"), "tail")
            .when(col("score_q") <= col("p66"), "middle")
            .otherwise("head"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("score_q")).as("min_q"), max(col("score_q")).as("max_q"))
        .orderBy(col("lang"), col("bucket"))
    },
      s"""WITH ${OracleSql.lmCtes(
        s"text || CASE WHEN doc_id % 3 = 0 THEN '${Garble}' " +
          s"WHEN doc_id % 3 = 1 THEN '${GarbleShort}' " +
          "ELSE '' END")},
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(floor(coalesce(
        |      CASE WHEN coalesce(h.n_bigrams, 0) > 0
        |           THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / h.n_bigrams
        |      END, 0.0) * 1048576) AS BIGINT) AS score_q
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id),
        |q AS (
        |  SELECT lang, quantile_cont(score_q, 1.0 / 3) AS p33,
        |         quantile_cont(score_q, 2.0 / 3) AS p66
        |  FROM sc GROUP BY lang)
        |SELECT s.lang,
        |  CASE WHEN s.score_q <= q.p33 THEN 'tail'
        |       WHEN s.score_q <= q.p66 THEN 'middle'
        |       ELSE 'head' END AS bucket,
        |  count(*) AS n, min(s.score_q) AS min_q, max(s.score_q) AS max_q
        |FROM sc s JOIN q ON s.lang = q.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- wave-6 flagship: GOVERNED corpus pipeline — per-language
    //     quality floors come from the CONFIG STORE (strict tag
    //     imported by en/de, root default for the rest), documents are
    //     scored by the bigram LM, filtered against their language's
    //     resolved floor, and the survivors rebalanced to a uniform
    //     mix. Each stage is the real operator; one oracle replays
    //     resolution, LM arithmetic, filter, and sampling ------------
    Gate("q_governed_pipeline", (s, dir) => {
      import graft.functions.NgramLm
      import graft.runner.ConfigStore
      import graft.runner.ConfigStore.Node
      val tmp = tmpDir("graft_gov")
      val docs = t(s, dir, "documents")
      val langs = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted // language registry: bounded
      val nodes = Map(
        "/" -> Node(Vector("lm.min_hit_ratio" -> "0.05")),
        "/tags" -> Node(),
        "/tags/strict" -> Node(Vector("lm.min_hit_ratio" -> "0.9")),
        "/corpora" -> Node()) ++ langs.map { l =>
        val imp = if (l == "en" || l == "de") Vector("/tags/strict")
                  else Vector.empty[String]
        s"/corpora/$l" -> Node(Vector.empty, imp)
      }.toMap
      ConfigStore.deployFs(tmp, "v1", nodes)
      val thr = ConfigStore.openFs(tmp)
        .resolveAll(s, langs.map(l => s"/corpora/$l").toSeq)
        .filter(col("key") === "lm.min_hit_ratio")
        .select(regexp_extract(col("path"), "/corpora/(.*)", 1).as("lang"),
          col("value").cast("double").as("thr"))
      // plant garble on every 7th doc: the LM trains on CLEAN en text
      // (CCNet's clean reference corpus), so planted docs score a low
      // hit ratio and the strict floor actually BITES on en/de
      val docsScored = docs.withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(Garble)))
          .otherwise(col("text")))
      val lm = NgramLm.train(docs.filter(col("lang") === "en"), "text")
      val scored = NgramLm.score(docsScored, "doc_id", "text2", lm)
        .withColumnRenamed("id", "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      // materialize survivors to a temp tree instead of persist():
      // rebalance collects survivor counts AND the returned plan joins
      // the set three times — parquet re-reads are cheap and leave no
      // cache blocks pinned in the shared gate session
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("hit_ratio") >= col("thr"))
        .select(col("doc_id"), col("lang"))
        .write.parquet(s"$tmp/passed")
      val passed = s.read.parquet(s"$tmp/passed")
      val sampled = Converters.rebalanceToTargetMix(passed, "lang", "doc_id")
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(passed.groupBy(col("lang")).agg(count(lit(1)).as("np")), Seq("lang"), "left")
        .join(sampled.groupBy(col("lang")).agg(count(lit(1)).as("ns")), Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("np"), lit(0L)).as("n_passed"),
          coalesce(col("ns"), lit(0L)).as("n_sampled"))
        .orderBy(col("lang"))
    },
      s"""WITH ${OracleSql.lmCtes(
        s"text || CASE WHEN doc_id % 7 = 0 THEN '${Garble}' ELSE '' END")},
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN coalesce(h.n_bigrams, 0) > 0
        |         THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / h.n_bigrams
        |    END AS hit_ratio
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id),
        |thr AS (
        |  SELECT lang,
        |    CASE WHEN lang IN ('en', 'de') THEN CAST('0.9' AS DOUBLE)
        |         ELSE CAST('0.05' AS DOUBLE) END AS thr
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |passed AS (
        |  SELECT s.doc_id, s.lang FROM sc s JOIN thr ON s.lang = thr.lang
        |  WHERE s.hit_ratio >= thr.thr),
        |c AS (SELECT lang, count(*) AS n FROM passed GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS k FROM c),
        |f AS (
        |  SELECT lang, least(CAST(1.0 AS DOUBLE),
        |    (CAST(1.0 AS DOUBLE) / k) / (CAST(n AS DOUBLE) / total)) AS frac
        |  FROM c, tot),
        |cuts AS (
        |  SELECT lang, CASE WHEN frac >= 1.0 THEN 'g'
        |    ELSE printf('%04x',
        |      CAST(least(round(frac * 65536), 65535) AS BIGINT)) END AS cut
        |  FROM f),
        |sampled AS (
        |  SELECT p.lang, count(*) AS n FROM passed p
        |  JOIN cuts ON p.lang = cuts.lang
        |  WHERE substring(md5('graft' || '|' || CAST(p.doc_id AS VARCHAR)), 1, 4)
        |        < cuts.cut
        |  GROUP BY p.lang)
        |SELECT b.lang, b.n_total,
        |  coalesce(c.n, 0) AS n_passed,
        |  coalesce(sampled.n, 0) AS n_sampled
        |FROM (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang) b
        |LEFT JOIN c ON b.lang = c.lang
        |LEFT JOIN sampled ON b.lang = sampled.lang
        |ORDER BY b.lang""".stripMargin),

    // --- BPE encode (the tokenizer's other half): merges learned on
    //     the en dictionary applied to the WHOLE corpus dictionary,
    //     per-language fertility (pieces per word) reported. Encoding
    //     joins tokens to the vocab-sized encoded dict — one shuffle
    //     over the corpus, merges never touch it --------------------
    Gate("q_bpe_encode", (s, dir) => {
      import graft.functions.Bpe
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMerges(
        Bpe.wordDict(docs.filter(col("lang") === "en"), "text"), 6)
      val encoded = Bpe.applyMerges(Bpe.wordDict(docs, "text"), merges)
        .select(col("w"), size(col("syms")).as("pieces"))
      docs.select(col("lang"),
          explode(graft.functions.Text.tokens(coalesce(col("text"), lit(""))))
            .as("w"))
        .join(encoded, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("pieces")).as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          (col("n_pieces").cast("double") / col("n_words"))
            .as("pieces_per_word"))
        .orderBy(col("lang"))
    }, OracleSql.bpeEncode(6)),

    // --- n-gram LM quality scoring (CCNet-style filter): bigram LM
    //     trained on the lang='en' slice, every document scored by
    //     token OOV, bigram hit rate, and the conditional-probability
    //     floor. The oracle refits the LM and rescores from scratch --
    Gate("q_lm_quality", (s, dir) => {
      import graft.functions.NgramLm
      val docs = t(s, dir, "documents")
      val lm = NgramLm.train(docs.filter(col("lang") === "en"), "text")
      NgramLm.score(docs, "doc_id", "text", lm)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      s"""WITH ${OracleSql.lmCtes()}
        |SELECT d.doc_id,
        |  coalesce(o.n_tokens, 0) AS n_tokens,
        |  coalesce(o.n_oov, 0) AS n_oov,
        |  coalesce(h.n_bigrams, 0) AS n_bigrams,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  CASE WHEN coalesce(h.n_bigrams, 0) > 0
        |       THEN CAST(coalesce(h.n_hits, 0) AS DOUBLE) / h.n_bigrams
        |  END AS hit_ratio,
        |  h.min_prob AS min_prob
        |FROM documents d
        |LEFT JOIN oov o ON d.doc_id = o.doc_id
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // --- automatic troubleshooter (ref gobblin-runtime/.../
    //     troubleshooter/ + AutoTroubleshooterLogAppender.java): one
    //     job context per nation; every 3rd job fails with a coded
    //     error TWICE (the retry dedups to one issue), every 3rd+1 job
    //     reports a kafka WARN (refined away), a runner WARN and a
    //     metrics INFO (refined to the bottom), the rest are healthy.
    //     Output = refined per-context issue rows; the oracle restates
    //     the expected classification from the nation table ----------
    Gate("q_issues", (s, dir) => {
      import graft.runner.Troubleshooter
      import graft.runner.Troubleshooter._
      val repo = new MultiContextIssueRepository()
      // nation is a fixed-size dimension (25 rows at every SF):
      // bounded driver metadata, same class as seeds/offsets elsewhere
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      nations.foreach { case (k, name) =>
        val ctx = contextIdForJob("gate", name, "1", "ingest")
        k % 3 match {
          case 0 =>
            // the job and its blind retry fail identically -> ONE issue
            (1 to 2).foreach { _ =>
              Troubleshooter.guarded(
                repo, ctx, "graft.sources.FileSources", "ingest run") {
                throw new CodedException(
                  "GRAFT_SOURCE_MISSING", s"no input for $name")
              }
            }
          case 1 =>
            repo.put(ctx, Issue(1L, Severity.Warn, "KAFKA_LAG",
              s"consumer lag on $name", "",
              "org.apache.kafka.clients.NetworkClient", ""))
            repo.put(ctx, Issue(2L, Severity.Warn, "GRAFT_SLOW_TASK",
              s"slow tasks on $name", "", "graft.runner.JobRunner", ""))
            repo.put(ctx, Issue(3L, Severity.Info, "METRICS_EMIT",
              s"metrics emitted for $name", "",
              "graft.metrics.GraftListener", ""))
          case _ => () // healthy run: no issues
        }
      }
      Troubleshooter.toDf(s, repo)
        .select(col("context"), col("ord"), col("code"), col("severity"),
          col("summary"), col("source_class"))
        .orderBy(col("context"), col("ord"))
    },
      """WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation),
        |err AS (
        |  SELECT 'gate:' || name || ':1:ingest' AS context,
        |    CAST(0 AS BIGINT) AS ord,
        |    'GRAFT_SOURCE_MISSING' AS code, 'ERROR' AS severity,
        |    'CodedException: no input for ' || name || ' | ingest run'
        |      AS summary,
        |    'graft.sources.FileSources' AS source_class
        |  FROM n WHERE k % 3 = 0),
        |w AS (
        |  SELECT 'gate:' || name || ':1:ingest', CAST(0 AS BIGINT),
        |    'GRAFT_SLOW_TASK', 'WARN', 'slow tasks on ' || name,
        |    'graft.runner.JobRunner'
        |  FROM n WHERE k % 3 = 1),
        |i AS (
        |  SELECT 'gate:' || name || ':1:ingest', CAST(1 AS BIGINT),
        |    'METRICS_EMIT', 'INFO', 'metrics emitted for ' || name,
        |    'graft.metrics.GraftListener'
        |  FROM n WHERE k % 3 = 1)
        |SELECT * FROM err UNION ALL SELECT * FROM w UNION ALL SELECT * FROM i
        |ORDER BY context, ord""".stripMargin),

    // --- task-failure listener (the reference's troubleshooter
    //     log-appender seam, Spark-native): per nation, every 2nd job
    //     REALLY fails on executors (all partitions throw a coded
    //     error); the listener classifies ExceptionFailure end reasons
    //     into issues — many failing tasks, same site, ONE issue.
    //     Oracle restates the classification from the nation table ---
    Gate("q_task_issues", (s, dir) => {
      import graft.runner.Troubleshooter
      import graft.runner.Troubleshooter._
      import s.implicits._
      val repo = new MultiContextIssueRepository()
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1)))
        .sortBy(_._1)
      // ONE listener for the whole run; each nation's jobs are tagged
      // with its context via the job group, so a straggler task-end
      // delivered during a later nation's turn still files under the
      // stage's owning context (per-nation attach/remove was racy).
      val listener = new JobGroupIssueListener(repo)
      s.sparkContext.addSparkListener(listener)
      // the planted failures below log an ERROR stack + "aborting job"
      // per even nation; silence them for the gate's duration so a REAL
      // failure elsewhere in a bench run stands out in the log tail
      val priorLevel = org.apache.logging.log4j.LogManager.getRootLogger
        .getLevel.toString
      s.sparkContext.setLogLevel("FATAL")
      try {
        nations.foreach { case (k, name) =>
          val ctx = contextIdForJob("gate", name, "2", "task")
          s.sparkContext.setJobGroup(ctx, s"task-issues $name",
            interruptOnCancel = false)
          try {
            if (k % 2 == 0) {
              try s.range(0, 4, 1, numPartitions = 2).as[Long].mapPartitions { it =>
                throw new CodedException("GRAFT_TASK_BOOM", "planted failure")
                it
              }.count()
              catch { case _: org.apache.spark.SparkException => () }
              // listener bus is async: wait for THIS context's issue
              val deadline = System.currentTimeMillis() + 15000
              while (repo.getAll(ctx).isEmpty &&
                System.currentTimeMillis() < deadline) Thread.sleep(20)
            } else {
              s.range(0, 4, 1, numPartitions = 2).count() // healthy job
            }
          } finally s.sparkContext.clearJobGroup()
        }
      } finally {
        s.sparkContext.setLogLevel(priorLevel)
        s.sparkContext.removeSparkListener(listener)
      }
      Troubleshooter.toDf(s, repo)
        .select(col("context"), col("ord"), col("code"), col("severity"),
          col("exception_class"))
        .orderBy(col("context"))
    },
      """WITH n AS (SELECT n_nationkey AS k, n_name AS name FROM nation)
        |SELECT 'gate:' || name || ':2:task' AS context,
        |  CAST(0 AS BIGINT) AS ord,
        |  'GRAFT_TASK_BOOM' AS code, 'ERROR' AS severity,
        |  'graft.runner.Troubleshooter$CodedException' AS exception_class
        |FROM n WHERE k % 2 = 0 ORDER BY context""".stripMargin),

    // --- DSIR hashed n-gram importance (Xie et al. 2023, exact-
    //     integer variant — functions/Importance.scala): weights fit
    //     on target = clean en docs vs raw = garble-planted corpus;
    //     every raw doc scored by its exact integer bucket-weight sum.
    //     Garbled docs' grams are raw-heavy and target-absent, so
    //     their scores sink. Oracle replays FNV bigram hashes,
    //     smoothed integer weights, and the sums bit-for-bit --------
    Gate("q_importance_weights", (s, dir) => {
      import graft.functions.Importance
      val docs = t(s, dir, "documents")
      val raw = docs.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(Garble)))
          .otherwise(col("text")).as("text"))
      val target = docs.filter(col("lang") === "en")
      val w = Importance.bucketWeights(
        target, "text", raw, "text", n = 2, nBuckets = 4096)
      Importance.score(raw, "doc_id", "text", w, n = 2, nBuckets = 4096)
        .orderBy(col("doc_id"))
    }, OracleSql.importanceWeights(
      s"text || CASE WHEN doc_id % 7 = 0 THEN '${Garble}' " +
        "ELSE '' END",
      buckets = 4096)),

    // --- DSIR SELECTION (the step after scoring — Xie et al. 2023):
    //     keep the top-k docs per language by exact-integer importance
    //     score, ties by ascending doc_id. One domain-keyed window;
    //     the constant rank bound rides WindowGroupLimit so a skewed
    //     domain never sorts in full. Oracle replays score + the
    //     row_number selection ----------------------------------------
    Gate("q_importance_select", (s, dir) => {
      import graft.functions.Importance
      val docs = t(s, dir, "documents")
      val raw = docs.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(Garble)))
          .otherwise(col("text")).as("text"))
      val target = docs.filter(col("lang") === "en")
      val w = Importance.bucketWeights(
        target, "text", raw, "text", n = 2, nBuckets = 4096)
      val scored = Importance
        .score(raw, "doc_id", "text", w, n = 2, nBuckets = 4096)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Importance.selectTopK(scored, "doc_id", "lang", "score", k = 40)
        .select(col("doc_id"), col("lang"), col("n_grams"), col("score"))
        .orderBy(col("lang"), col("doc_id"))
    }, OracleSql.importanceSelect(
      s"text || CASE WHEN doc_id % 7 = 0 THEN '${Garble}' " +
        "ELSE '' END",
      buckets = 4096, k = 40)),

    // --- training-shard export + manifest verification (operators/
    //     ShardExport.scala): publish documents as 8 deterministic
    //     shards with a manifest (count, chars, order-independent FNV
    //     XOR checksum), then VERIFY the manifest from the published
    //     files. The oracle recomputes every manifest figure from the
    //     source table — green means written == declared == replayed -
    Gate("q_shard_manifest", (s, dir) => {
      import graft.operators.ShardExport
      val out = tmpDir("q_shard_manifest")
      ShardExport.exportShards(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8, outDir = out)
      ShardExport.verify(s, out, "doc_id", "text")
        .orderBy(col("shard"))
    },
      // every manifest figure recomputed from the source table; the
      // checksum replays FNV-1a 64 per doc and XOR-folds it (order-
      // independent, so parallel write order is irrelevant)
      s"""SELECT doc_id % 8 AS shard, count(*) AS n_docs,
         |  CAST(sum(len(text)) AS BIGINT) AS sum_chars,
         |  bit_xor(${OracleSql.fnvS("text")}) AS checksum,
         |  true AS verified
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin),

    // --- corpus version diff (operators/CorpusDiff.scala): per-lang
    //     added/removed/changed/unchanged between two drops — v2 loses
    //     every 9th doc, gains back the 11th-excluded ones, rewrites
    //     every 13th; fingerprints are FNV-1a 64 so the oracle replays
    //     them exactly -----------------------------------------------
    Gate("q_corpus_drift", (s, dir) => {
      import graft.operators.CorpusDiff
      import graft.functions.Fnv64
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 11 =!= 0)
      val v2 = docs.filter(col("doc_id") % 9 =!= 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"),
            when(col("doc_id") % 13 === 0, " updated").otherwise(""))
            .as("text"))
      CorpusDiff.diff(v1, v2, "doc_id", Fnv64(col("text")), col("lang"))
        .orderBy(col("stratum"))
    }, {
      val fp1 = OracleSql.fnvS("text")
      val fp2 = OracleSql.fnvS(
        "text || CASE WHEN doc_id % 13 = 0 THEN ' updated' ELSE '' END")
      s"""WITH o AS (
         |  SELECT doc_id, lang, $fp1 AS fp FROM documents
         |  WHERE doc_id % 11 <> 0),
         |n AS (
         |  SELECT doc_id, lang, $fp2 AS fp FROM documents
         |  WHERE doc_id % 9 <> 0),
         |j AS (
         |  SELECT coalesce(n.lang, o.lang) AS stratum,
         |    CASE WHEN o.fp IS NULL THEN 'added'
         |         WHEN n.fp IS NULL THEN 'removed'
         |         WHEN o.fp <> n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT stratum,
         |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY stratum ORDER BY stratum""".stripMargin
    }),

    // --- k-anonymous aggregate release (compliance tier): per
    //     (event_type, user) cells, every cell under k=10 folded into
    //     ONE sentinel cell so no released row re-identifies a user;
    //     totals preserved exactly ------------------------------------
    Gate("q_kanon_suppress", (s, dir) => {
      import graft.operators.Compliance
      Compliance.kAnonymize(t(s, dir, "events"),
          Seq("event_type", "user_id"), k = 10)
        .orderBy(col("event_type"), col("user_id"))
    },
      """WITH cells AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT CASE WHEN n >= 10 THEN event_type ELSE 'OTHER' END
        |      AS event_type,
        |    CASE WHEN n >= 10 THEN CAST(user_id AS VARCHAR) ELSE 'OTHER' END
        |      AS user_id,
        |    n FROM cells)
        |SELECT event_type, user_id, CAST(sum(n) AS BIGINT) AS n,
        |  (event_type = 'OTHER' AND user_id = 'OTHER') AS suppressed
        |FROM m GROUP BY 1, 2
        |HAVING NOT (event_type = 'OTHER' AND user_id = 'OTHER')
        |    OR sum(n) >= 10
        |ORDER BY event_type, user_id""".stripMargin),

    // --- term-distribution drift between corpus versions (the token-
    //     level companion to q_corpus_drift — what a tokenizer/mixture
    //     owner reads after a refresh): top-50 terms by absolute
    //     count change between v1 and v2, exact integers, ties by
    //     term. Two map-side-combined term counts + one full-outer
    //     hash join on the term --------------------------------------
    Gate("q_term_drift", (s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents")
      def counts(df: DataFrame) = df
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      val v1 = counts(docs.filter(col("doc_id") % 11 =!= 0))
      val v2 = counts(docs.filter(col("doc_id") % 9 =!= 0))
      v1.withColumnRenamed("n", "n_v1")
        .join(v2.withColumnRenamed("n", "n_v2"), Seq("term"), "full_outer")
        .select(col("term"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"))
        .withColumn("drift", abs(col("n_v2") - col("n_v1")))
        .orderBy(col("drift").desc, col("term"))
        .limit(50)
    },
      """WITH t1 AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS term
        |  FROM documents WHERE doc_id % 11 <> 0),
        |t2 AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |    AS term
        |  FROM documents WHERE doc_id % 9 <> 0),
        |c1 AS (SELECT term, count(*) AS n FROM t1 GROUP BY term),
        |c2 AS (SELECT term, count(*) AS n FROM t2 GROUP BY term)
        |SELECT coalesce(c1.term, c2.term) AS term,
        |  CAST(coalesce(c1.n, 0) AS BIGINT) AS n_v1,
        |  CAST(coalesce(c2.n, 0) AS BIGINT) AS n_v2,
        |  CAST(abs(coalesce(c2.n, 0) - coalesce(c1.n, 0)) AS BIGINT) AS drift
        |FROM c1 FULL OUTER JOIN c2 ON c1.term = c2.term
        |ORDER BY drift DESC, term LIMIT 50""".stripMargin),

    // --- token-budget corpus selection (operators/BudgetSelect.scala):
    //     keep the best 40% of tokens by priority (n_chars here; any
    //     integral score column). Two-pass distributed running sum —
    //     the oracle's single global window replays the same prefix
    //     cut exactly -----------------------------------------------
    Gate("q_budget_select", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        size(graft.functions.Text.tokens(coalesce(col("text"), lit(""))))
          .cast("long").as("n_tokens"))
      // O(1) driver scalar: the budget, not data
      val total = docs.agg(sum(col("n_tokens"))).head.getLong(0)
      graft.operators.BudgetSelect.selectByBudget(docs, "doc_id", "n_tokens",
          "n_chars", budget = total * 2 / 5)
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("cum_cost"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT sum(n_tokens) * 2 // 5 AS budget FROM d),
        |c AS (
        |  SELECT doc_id, n_chars, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum_cost
        |  FROM d)
        |SELECT doc_id, n_chars, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
        |FROM c, b WHERE cum_cost <= budget
        |ORDER BY doc_id""".stripMargin),

    // --- filter-cascade accounting (operators/FilterFunnel.scala):
    //     ordered survivor funnel in ONE aggregation pass; the oracle
    //     replays each stage's cumulative conditions ------------------
    Gate("q_filter_funnel", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.FilterFunnel.report(docs, Seq(
          "lang_en" -> (col("lang") === "en"),
          "min_chars" -> (col("n_chars") >= 80),
          "min_tokens" -> (size(graft.functions.Text.tokens(coalesce(col("text"), lit("")))) >= 20),
          "mentions_table" -> col("text").contains("table")))
        .orderBy(col("stage"))
    },
      """WITH d AS (
        |  SELECT
        |    coalesce(lang = 'en', false) AS a1,
        |    coalesce(n_chars >= 80, false) AS p2,
        |    coalesce(len(list_filter(string_split(coalesce(text, ''), ' '),
        |                             x -> len(x) > 0)) >= 20, false) AS p3,
        |    coalesce(contains(text, 'table'), false) AS p4
        |  FROM documents),
        |c AS (
        |  SELECT a1, a1 AND p2 AS a2, a1 AND p2 AND p3 AS a3,
        |         a1 AND p2 AND p3 AND p4 AS a4
        |  FROM d)
        |SELECT stage, name, CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_pass AS BIGINT) AS n_pass,
        |  CAST(n_in - n_pass AS BIGINT) AS n_fail
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'lang_en' AS name,
        |    count(*) AS n_in, sum(CASE WHEN a1 THEN 1 ELSE 0 END) AS n_pass FROM c
        |  UNION ALL SELECT 1, 'min_chars',
        |    sum(CASE WHEN a1 THEN 1 ELSE 0 END), sum(CASE WHEN a2 THEN 1 ELSE 0 END) FROM c
        |  UNION ALL SELECT 2, 'min_tokens',
        |    sum(CASE WHEN a2 THEN 1 ELSE 0 END), sum(CASE WHEN a3 THEN 1 ELSE 0 END) FROM c
        |  UNION ALL SELECT 3, 'mentions_table',
        |    sum(CASE WHEN a3 THEN 1 ELSE 0 END), sum(CASE WHEN a4 THEN 1 ELSE 0 END) FROM c
        |) ORDER BY stage""".stripMargin),

    // --- fill-in-the-middle pairs (SpanCorruption.fim): deterministic
    //     FNV cut points -> <fim_prefix> P <fim_suffix> S <fim_middle>
    //     M reordering (Bavarian et al. 2022); pure projection, the
    //     oracle rebuilds every reordered string ----------------------
    Gate("q_fim_pairs", (s, dir) => {
      graft.operators.SpanCorruption.fim(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, {
      def cutSql(salt: String) = {
        val f = OracleSql.fnvS(s"CAST(doc_id AS VARCHAR) || '|' || '$salt'")
        s"((($f) % (len(t) + 1)) + (len(t) + 1)) % (len(t) + 1)"
      }
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(coalesce(text, ''), ' '), x -> len(x) > 0)
         |      AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
         |    ${cutSql("fimA")} AS ca,
         |    ${cutSql("fimB")} AS cb
         |  FROM toks),
         |cc AS (
         |  SELECT doc_id, t, n,
         |    CAST(least(ca, cb) AS BIGINT) AS c1,
         |    CAST(greatest(ca, cb) AS BIGINT) AS c2
         |  FROM c)
         |SELECT doc_id,
         |  concat_ws(' ', '<fim_prefix>',
         |    nullif(array_to_string(t[1:c1], ' '), ''),
         |    '<fim_suffix>',
         |    nullif(array_to_string(t[c2+1:n], ' '), ''),
         |    '<fim_middle>',
         |    nullif(array_to_string(t[c1+1:c2], ' '), '')) AS psm_text,
         |  c1 AS n_prefix, c2 - c1 AS n_middle, n - c2 AS n_suffix
         |FROM cc ORDER BY doc_id""".stripMargin
    }),

    // --- T5-style span corruption (operators/SpanCorruption.scala):
    //     deterministic block masking (FNV(doc|block) % 4 == 0,
    //     adjacent blocks merge into spans) -> (input with sentinels,
    //     target with removed spans). The oracle rebuilds both texts
    //     token-by-token ---------------------------------------------
    Gate("q_span_corruption", (s, dir) => {
      graft.operators.SpanCorruption.corrupt(
          t(s, dir, "documents"), "doc_id", "text", blockSize = 3, maskMod = 4)
        .orderBy(col("doc_id"))
    }, {
      val mask = OracleSql.fnvS(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(block AS VARCHAR)")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(coalesce(text, ''), ' '), x -> len(x) > 0)
         |      AS toks
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
         |    CAST((i - 1) // 3 AS BIGINT) AS block
         |  FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
         |        FROM toks)),
         |blk AS (
         |  SELECT DISTINCT doc_id, block,
         |    (($mask % 4) + 4) % 4 = 0 AS masked
         |  FROM tk),
         |runs AS (
         |  SELECT doc_id, block, masked,
         |    CASE WHEN masked AND NOT coalesce(lag(masked) OVER w, false)
         |         THEN 1 ELSE 0 END AS run_start
         |  FROM blk WINDOW w AS (PARTITION BY doc_id ORDER BY block)),
         |runid AS (
         |  SELECT doc_id, block, masked,
         |    sum(run_start) OVER (PARTITION BY doc_id ORDER BY block
         |                         ROWS UNBOUNDED PRECEDING) - 1 AS run_id
         |  FROM runs),
         |tt AS (
         |  SELECT t.doc_id, t.pos, t.tok, r.masked, r.run_id
         |  FROM tk t JOIN runid r ON r.doc_id = t.doc_id AND r.block = t.block),
         |inp AS (
         |  SELECT doc_id, string_agg(piece, ' ' ORDER BY k) AS input_text FROM (
         |    SELECT doc_id, CAST(pos AS BIGINT) AS k, tok AS piece
         |    FROM tt WHERE NOT masked
         |    UNION ALL
         |    SELECT doc_id, CAST(min(pos) AS BIGINT),
         |      '<extra_id_' || CAST(run_id AS VARCHAR) || '>'
         |    FROM tt WHERE masked GROUP BY doc_id, run_id)
         |  GROUP BY doc_id),
         |tgtp AS (
         |  SELECT doc_id, run_id, CAST(pos AS BIGINT) AS p, tok AS piece
         |  FROM tt WHERE masked
         |  UNION ALL
         |  SELECT DISTINCT doc_id, run_id, CAST(-1 AS BIGINT),
         |    '<extra_id_' || CAST(run_id AS VARCHAR) || '>'
         |  FROM tt WHERE masked),
         |tgt AS (
         |  SELECT doc_id, string_agg(piece, ' ' ORDER BY run_id, p) AS target_text,
         |    CAST(count(DISTINCT run_id) AS BIGINT) AS n_spans,
         |    CAST(count(*) FILTER (WHERE p >= 0) AS BIGINT) AS n_masked_tokens
         |  FROM tgtp GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(inp.input_text, '') AS input_text,
         |  coalesce(tgt.target_text, '') AS target_text,
         |  coalesce(tgt.n_spans, 0) AS n_spans,
         |  coalesce(tgt.n_masked_tokens, 0) AS n_masked_tokens
         |FROM documents d
         |LEFT JOIN inp ON inp.doc_id = d.doc_id
         |LEFT JOIN tgt ON tgt.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // --- per-source data cards (corpus governance): the one-row-per-
    //     source release report — volume, token mass, language spread,
    //     exact-dup rate, mean length -------------------------------
    Gate("q_data_cards", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(graft.functions.Text.tokens(coalesce(col("text"), lit("")))))
            .cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
        .orderBy(col("source"))
    },
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(coalesce(text, ''), ' '),
        |                           x -> len(x) > 0))) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin),

    // --- declarative curation job (job.type=curate): ordered filters
    //     (funnel-accounted) -> exact md5 dedup -> token-budget prefix
    //     selection -> snapshot publish, all from one properties file;
    //     the oracle replays the whole chain over the raw table ------
    Gate("q_curate_job", (s, dir) => {
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files.createTempDirectory("q_curate_job").toString
      val props = JobConfig.parse(
        s"""job.type=curate
           |job.name=docs_curate
           |source.path=$dir/documents.parquet
           |curate.id=doc_id
           |curate.filter.1.name=lang_en
           |curate.filter.1.predicate=lang = 'en'
           |curate.filter.2.name=min_chars
           |curate.filter.2.predicate=n_chars >= 80
           |curate.dedup.text=text
           |curate.budget.text=text
           |curate.budget.priority=n_chars
           |curate.budget.tokens=5000
           |sink.staging=$tmp/staging
           |sink.output=$tmp/out
           |""".stripMargin)
      val r = JobConfig.runAny(s, props)
      require(r("published") == "true", s"curate job failed: $r")
      require(r.contains("stage.lang_en") && r.contains("stage.min_chars"),
        s"funnel accounting missing from summary: $r")
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """WITH f AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  WHERE coalesce(lang = 'en', false)
        |    AND coalesce(n_chars >= 80, false)),
        |surv AS (
        |  SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
        |d AS (
        |  SELECT f.doc_id, f.lang, f.n_chars, f.text
        |  FROM f JOIN surv s ON f.doc_id = s.doc_id),
        |c AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |                         x -> len(x) > 0)) AS BIGINT) AS cost
        |  FROM d),
        |w AS (
        |  SELECT doc_id, lang, n_chars,
        |    sum(cost) OVER (ORDER BY n_chars DESC, doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT doc_id, lang, n_chars FROM w WHERE cum <= 5000
        |ORDER BY doc_id""".stripMargin),

    // --- largest-remainder quota sampling (operators/QuotaSample):
    //     one global budget of 100 docs split across sources in exact
    //     proportion (quotas sum to exactly 100), md5-keyed draw; the
    //     oracle replays the apportionment integer-for-integer -------
    Gate("q_quota_sample", (s, dir) => {
      graft.operators.QuotaSample.quotaSample(
          t(s, dir, "documents"), "source", "doc_id", k = 100)
        .orderBy(col("source"), col("doc_id"))
    },
      """WITH counts AS (
        |  SELECT source AS g, count(*) AS n_g FROM documents GROUP BY source),
        |t AS (SELECT sum(n_g) AS total FROM counts),
        |based AS (
        |  SELECT g, n_g, (n_g * 100) // total AS base,
        |    (n_g * 100) % total AS rem
        |  FROM counts, t),
        |defc AS (SELECT 100 - sum(base) AS deficit FROM based),
        |ranked AS (
        |  SELECT g, n_g,
        |    CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
        |                       <= (SELECT deficit FROM defc)
        |                THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM based),
        |keyed AS (
        |  SELECT d.source AS g, d.doc_id AS id,
        |    md5('quota' || '|' || d.doc_id) AS k
        |  FROM documents d),
        |drawn AS (
        |  SELECT k2.g, k2.id, r.n_g, r.quota,
        |    row_number() OVER (PARTITION BY k2.g ORDER BY k2.k, k2.id) AS rn
        |  FROM keyed k2 JOIN ranked r ON k2.g = r.g)
        |SELECT g AS source, id AS doc_id, CAST(n_g AS BIGINT) AS n_g, quota
        |FROM drawn WHERE rn <= quota
        |ORDER BY source, doc_id""".stripMargin),

    // --- corpus quality classifier: train an exact-arithmetic
    //     NB-family bag-of-words classifier on the doc_id%4==0 slice
    //     (labels = planted en-vs-rest split), score the held-out
    //     corpus. The oracle RE-TRAINS in SQL: counts, quantized
    //     rational weights, additive scores, argmax — bit for bit ----
    Gate("q_text_classifier", (s, dir) => {
      import operators.TextClassifier
      val docs = t(s, dir, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", "en").otherwise("xx").as("label"))
      val (weights, classInfo) = TextClassifier.train(train, "text", "label")
      val heldOut = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select("doc_id", "text")
      TextClassifier.predictWithMargin(heldOut, "doc_id", "text", weights, classInfo)
        .orderBy("doc_id")
    }, classifierOracle("doc_id % 4 <> 0")),

    // --- incremental classifier maintenance: counts are the model's
    //     sufficient statistics and they're ADDITIVE — train on half
    //     the corpus, train on the other half, merge counts, predict.
    //     The oracle retrains from scratch on the union: green =
    //     merge == rebuild, the same contract as Bm25.mergeIndex -----
    Gate("q_classifier_incremental", (s, dir) => {
      import operators.TextClassifier
      val docs = t(s, dir, "documents")
      def slice(m: Int, r: Int) = docs.filter(pmod(col("doc_id"), lit(m)) === r)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", "en").otherwise("xx").as("label"))
      val merged = TextClassifier.mergeCounts(
        TextClassifier.trainCounts(slice(8, 0), "text", "label"),
        TextClassifier.trainCounts(slice(8, 4), "text", "label"))
      val (weights, classInfo) =
        TextClassifier.weightsFromCounts(merged._1, merged._2)
      val heldOut = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select("doc_id", "text")
      TextClassifier.predictWithMargin(heldOut, "doc_id", "text", weights, classInfo)
        .orderBy("doc_id")
    }, classifierOracle("doc_id % 4 = 1")),

    // --- mixture epoch planning: integer repeat-factor plan per
    //     source under a token budget and a 4-epoch repeat cap, run
    //     through the DECLARATIVE op face (ops=mixturePlan) ----------
    Gate("q_mixture_plan", (s, dir) => {
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        s"""ops=mixturePlan
           |op.mixturePlan.groupColumn=source
           |op.mixturePlan.tokColumn=n_chars
           |op.mixturePlan.weights=${MixWeights.toSeq.sorted
             .map { case (g, w) => s"$g:$w" }.mkString(",")}
           |op.mixturePlan.budgetTokens=3000000
           |op.mixturePlan.maxEpochs=4
           |""".stripMargin))
      ops.foldLeft(t(s, dir, "documents").select(col("source"), col("n_chars")))(
          (d, op) => op(d))
        .orderBy("source")
    }, {
      val wsum = MixWeights.values.sum
      val cases = MixWeights.toSeq.sortBy(_._1)
        .map { case (g, w) => s"WHEN '$g' THEN ${w}" }.mkString(" ")
      s"""WITH m AS (
         |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, mass,
         |    CAST(CASE source $cases ELSE 0 END AS BIGINT) AS weight FROM m),
         |c AS (SELECT *, (3000000 * weight) // $wsum AS target FROM w),
         |d AS (SELECT *, CASE WHEN mass = 0 THEN 0
         |    ELSE (target * 1024 + mass - 1) // mass END AS eq FROM c),
         |e AS (SELECT *, least(eq, 4 * 1024) AS epochs_q FROM d)
         |SELECT source, mass, weight, target, CAST(epochs_q AS BIGINT) AS epochs_q,
         |  CAST((mass * epochs_q) // 1024 AS BIGINT) AS planned_tokens,
         |  CAST(greatest(target - (mass * epochs_q) // 1024, 0) AS BIGINT) AS shortfall
         |FROM e ORDER BY source""".stripMargin
    }),

    // --- SFT thread assembly: sessionize events per user on 2h
    //     silence, role'd turns, token-budget SUFFIX truncation
    //     (keep the most recent turns), role-alternation validation --
    Gate("q_conversation_threads", (s, dir) => {
      import operators.SftPrep
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type").isin("view", "click", "signup"), "user")
            .otherwise("assistant").as("role"),
          concat_ws(" ", col("event_type"), col("props")).as("turn_text"))
        .withColumn("tok", functions.Text.bpeishTokenCount(col("turn_text")))
      SftPrep.assembleThreads(ev, "user_id", "ts", "event_id",
          "role", "turn_text", "tok",
          gapMs = 2 * 3600 * 1000L, budgetTokens = 40L)
        .orderBy("user_id", "session_no")
    },
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    CASE WHEN event_type IN ('view', 'click', 'signup')
        |         THEN 'user' ELSE 'assistant' END AS role,
        |    event_type || ' ' || props AS turn_text,
        |    CAST(len(regexp_extract_all(event_type || ' ' || props,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS tok
        |  FROM events),
        |s1 AS (SELECT *,
        |    CASE WHEN ms - lag(ms) OVER w > 7200000
        |           OR lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s2 AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM s1),
        |s3 AS (SELECT *,
        |    row_number() OVER tw AS turn_no,
        |    sum(tok) OVER (PARTITION BY user_id, session_no ORDER BY ms, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suffix_toks
        |  FROM s2 WINDOW tw AS (PARTITION BY user_id, session_no ORDER BY ms, event_id)),
        |kept AS (SELECT *, lag(role) OVER (PARTITION BY user_id, session_no
        |    ORDER BY turn_no) AS prev_role
        |  FROM s3 WHERE suffix_toks <= 40),
        |ka AS (SELECT user_id, session_no,
        |    CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(tok) AS BIGINT) AS kept_tokens,
        |    string_agg(role || ': ' || turn_text, chr(10) ORDER BY turn_no) AS thread_text,
        |    ((min({'t': turn_no, 'r': role})).r = 'user'
        |      AND coalesce(bool_and(role <> prev_role), TRUE)) AS roles_ok
        |  FROM kept GROUP BY 1, 2),
        |alln AS (SELECT user_id, session_no, CAST(count(*) AS BIGINT) AS n_turns
        |  FROM s3 GROUP BY 1, 2)
        |SELECT a.user_id, a.session_no, a.n_turns,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.kept_tokens, 0) AS kept_tokens,
        |  coalesce(k.roles_ok, FALSE) AS roles_ok,
        |  coalesce(k.thread_text, '') AS thread_text
        |FROM alln a LEFT JOIN ka k USING (user_id, session_no)
        |ORDER BY user_id, session_no""".stripMargin),

    // --- multi-phrase blocklist tagging (PhraseMatch, Aho-Corasick):
    //     ONE automaton pass per doc finds every phrase — the shape
    //     that survives 10^4-phrase blocklists where alternation
    //     regex / per-phrase contains are O(text x phrases). The
    //     oracle brute-forces contains() per phrase ------------------
    Gate("q_phrase_blocklist", (s, dir) => {
      import graft.functions.PhraseMatch
      val phrases = Seq("vector spark", "slow join", "customer data",
        "big hash", "merge batch", "the stream")
      PhraseMatch.tagMatches(
          t(s, dir, "documents").select(col("doc_id"),
            coalesce(col("text"), lit("")).as("text")),
          "text", phrases)
        .select(col("doc_id"),
          concat_ws("|", sort_array(col("matched"))).as("matched"),
          size(col("matched")).cast("long").as("n_matched"))
        .orderBy(col("doc_id"))
    },
      """WITH ph AS (
        |  SELECT unnest(['vector spark', 'slow join', 'customer data',
        |                 'big hash', 'merge batch', 'the stream']) AS phrase)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list(phrase)
        |      FILTER (phrase IS NOT NULL)), '|'), '') AS matched,
        |  CAST(count(phrase) AS BIGINT) AS n_matched
        |FROM (
        |  SELECT d.doc_id,
        |    CASE WHEN contains(coalesce(d.text, ''), p.phrase)
        |         THEN p.phrase END AS phrase
        |  FROM documents d CROSS JOIN ph p)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- declarative WebDataset export job (job.type=webdataset):
    //     source parquet -> op chain (length filter) -> ustar shards
    //     staged as files -> ATOMIC snapshot publish; the published
    //     directory is read back through binaryFile + the loader
    //     contract. Oracle replays the filter + shard layout ---------
    Gate("q_webdataset_job", (s, dir) => {
      import graft.operators.TarCodec
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files.createTempDirectory("q_webdataset_job").toString
      t(s, dir, "documents").filter(col("doc_id") < 250)
        .write.parquet(s"$tmp/src")
      val r = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=webdataset
           |job.name=wds_export
           |source.path=$tmp/src
           |ops=filter
           |op.filter.predicate=n_chars >= 150
           |export.id=doc_id
           |export.text=text
           |export.docsPerShard=5
           |sink.staging=$tmp/staging
           |sink.output=$tmp/out
           |""".stripMargin))
      require(r("published") == "true", s"export failed: $r")
      import org.apache.spark.sql.types._
      // read back the EXACT published paths from the job result — a
      // glob over $tmp/out can race the publish rename
      val published = r("files").split(",").toSeq
      require(published.nonEmpty, s"no shards published: $r")
      val shards = s.read.format("binaryFile").load(published: _*)
        .select(regexp_extract(col("path"), "shard-(\\d+)\\.tar", 1)
          .cast("long").as("shard_id"), col("content"))
      TarCodec.readWebDataset(shards).toDF()
        .select(col("shard_id"), col("member"), col("n_bytes"), col("text"))
        .orderBy(col("shard_id"), col("member"))
    },
      """SELECT doc_id // 5 AS shard_id, printf('%012d.txt', doc_id) AS member,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  coalesce(text, '') AS text
        |FROM documents WHERE doc_id < 250 AND n_chars >= 150
        |ORDER BY shard_id, member""".stripMargin),

    // --- Unigram-LM tokenizer (functions.Unigram): Viterbi GLOBAL
    //     best segmentation (not greedy) under exact-integer piece
    //     evidence learned on the en dictionary; per-language
    //     fertility + total evidence reported. The oracle unrolls
    //     the DP position by position with the identical tie-break --
    Gate("q_unigram_encode", (s, dir) => {
      import functions.{Bpe, Text, Unigram}
      val docs = t(s, dir, "documents")
      val scores = Unigram.learnScores(
        Bpe.wordDict(docs.filter(col("lang") === "en"), "text")
          .select("w", "n"), k = 20, maxLen = 4)
      val enc = Unigram.viterbiEncode(
        Bpe.wordDict(docs, "text").select("w"), scores, maxLen = 4)
      docs.select(col("lang"),
          explode(Text.tokens(coalesce(col("text"), lit(""))))
            .as("w"))
        .join(enc, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).cast("long").as("n_pieces"),
          sum(col("score")).cast("long").as("evidence"))
        .select(col("lang"), col("n_words"), col("n_pieces"), col("evidence"),
          (col("n_pieces").cast("double") / col("n_words"))
            .as("pieces_per_word"))
        .orderBy(col("lang"))
    }, {
      // Viterbi unroll to max word length 8: layer p computes the
      // best (score, np) ending at position p from candidates
      // j = p-1 (single char, score-0 fallback) and j = p-2..p-4
      // (vocab pieces); ties prefer smaller j via mj = -j in the
      // comparison struct. One LEFT JOIN per candidate (piece keys
      // unique), greatest() ignores NULL candidates.
      val layers = (2 to 8).map { p =>
        val joins = (math.max(0, p - 4) until p).map { j =>
          val l = p - j
          s"""LEFT JOIN sc a${p}_$j
             |  ON len(v.w) >= $p AND a${p}_$j.piece = substr(v.w, ${j + 1}, $l)"""
            .stripMargin
        }.mkString("\n")
        val cands = (math.max(0, p - 4) until p).map { j =>
          // position 0 is the DP base: score 0, zero pieces; the
          // struct compares lexicographically (fewest pieces via mn =
          // -np, then evidence, then longest final piece via mj = -j)
          val (sj, nj) = if (j == 0) ("0", "0") else (s"v.s$j", s"v.n$j")
          if (p - j == 1)
            s"{'mn': -($nj + 1), 's': $sj + coalesce(a${p}_$j.score, 0), 'mj': ${-j}}"
          else
            s"""CASE WHEN a${p}_$j.piece IS NOT NULL
               | THEN {'mn': -($nj + 1), 's': $sj + a${p}_$j.score, 'mj': ${-j}}
               | END""".stripMargin
        }.mkString(",\n      ")
        s"""v$p AS (
           |  SELECT v.*, CASE WHEN len(v.w) >= $p THEN list_aggregate([
           |      $cands], 'max') END AS b$p
           |  FROM v${p - 1} v
           |$joins),
           |w$p AS (SELECT * EXCLUDE (b$p), (b$p).s AS s$p, -((b$p).mn) AS n$p
           |        FROM v$p)""".stripMargin
      }
      // rename: layer p reads from w{p-1} except p=2 reads v1-as-w1
      val chain = layers.zipWithIndex.map { case (sql, idx) =>
        val p = idx + 2
        sql.replace(s"FROM v${p - 1} v", s"FROM w${p - 1} v")
      }.mkString(",\n")
      val pick = (c: String) => (1 to 8).map(p =>
        s"WHEN $p THEN $c$p").mkString(" ")
      s"""WITH dtoks AS (
         |  SELECT lang, list_filter(string_split(coalesce(text, ''), ' '),
         |                           x -> len(x) > 0) AS l
         |  FROM documents),
         |words AS (
         |  SELECT w, count(*) AS n
         |  FROM (SELECT unnest(l) AS w FROM dtoks WHERE lang = 'en') GROUP BY w),
         |subs AS (
         |  SELECT piece, CAST(sum(n) AS BIGINT) AS score FROM (
         |    SELECT n, substr(w, p, q) AS piece
         |    FROM words, range(1, 9) r1(p), range(1, 5) r2(q)
         |    WHERE p + q - 1 <= len(w)) GROUP BY piece),
         |sc AS (
         |  SELECT piece, score FROM subs WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, score FROM (
         |    SELECT piece, score FROM subs WHERE len(piece) >= 2
         |    ORDER BY score DESC, piece LIMIT 20)),
         |aw AS (SELECT DISTINCT unnest(l) AS w FROM dtoks),
         |w1 AS (
         |  SELECT aw.w, coalesce(c1.score, 0) AS s1, 1 AS n1
         |  FROM aw LEFT JOIN sc c1 ON c1.piece = substr(aw.w, 1, 1)),
         |$chain,
         |enc AS (
         |  SELECT w, CASE len(w) ${pick("n")} END AS np,
         |            CASE len(w) ${pick("s")} END AS sco
         |  FROM w8),
         |toklang AS (SELECT lang, unnest(l) AS w FROM dtoks)
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(e.sco) AS BIGINT) AS evidence,
         |  CAST(sum(e.np) AS DOUBLE) / count(*) AS pieces_per_word
         |FROM toklang t JOIN enc e ON t.w = e.w
         |GROUP BY lang ORDER BY lang""".stripMargin
    }),

    // --- WebDataset shard export (TarCodec): the corpus packed as
    //     real ustar shards (GNU-tar-interop-tested codec), 5 docs
    //     per shard with zero-padded member names, then read back
    //     through the loader-side contract — export and re-read must
    //     round-trip every byte. Oracle replays names/sizes/text ----
    Gate("q_webdataset", (s, dir) => {
      import graft.operators.TarCodec
      val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
      val shards = TarCodec.exportWebDataset(docs, "doc_id", "text",
        docsPerShard = 5)
      TarCodec.readWebDataset(shards).toDF()
        .select(col("shard_id"), col("member"), col("n_bytes"), col("text"))
        .orderBy(col("shard_id"), col("member"))
    },
      """SELECT doc_id // 5 AS shard_id, printf('%012d.txt', doc_id) AS member,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  coalesce(text, '') AS text
        |FROM documents WHERE doc_id < 250
        |ORDER BY shard_id, member""".stripMargin),

    // --- WordPiece tokenizer (functions.WordPiece): vocab = corpus
    //     chars + top-20 substrings (len 2-4) by weighted frequency
    //     learned on the en dictionary, then greedy LONGEST-MATCH
    //     encode of the whole-corpus dictionary; per-language
    //     fertility reported (the q_bpe_encode shape, other
    //     algorithm). The oracle re-learns the vocab and unrolls the
    //     greedy match to the corpus' max word length ----------------
    Gate("q_wordpiece", (s, dir) => {
      import functions.{Bpe, Text, WordPiece}
      val docs = t(s, dir, "documents")
      val vocab = WordPiece.learnVocab(
        Bpe.wordDict(docs.filter(col("lang") === "en"), "text")
          .select("w", "n"), k = 20, maxLen = 4)
      val encoded = WordPiece.encode(
        Bpe.wordDict(docs, "text").select("w"), vocab, maxLen = 4)
      docs.select(col("lang"),
          explode(Text.tokens(coalesce(col("text"), lit("")))).as("w"))
        .join(encoded, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).cast("long").as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          (col("n_pieces").cast("double") / col("n_words"))
            .as("pieces_per_word"))
        .orderBy(col("lang"))
    }, {
      // greedy longest-match unrolled to the corpus' max word length
      // (8): each layer advances active words by the longest matching
      // piece (vocab pieces are len 2-4; no match = consume 1 char)
      val layers = (1 to 8).map { i =>
        s"""e$i AS (
           |  SELECT e.w, CASE WHEN e.pos <= len(e.w)
           |      THEN e.pos + coalesce(max(len(v.piece)), 1) ELSE e.pos END AS pos,
           |    CASE WHEN e.pos <= len(e.w) THEN e.np + 1 ELSE e.np END AS np
           |  FROM e${i - 1} e LEFT JOIN topv v
           |    ON v.piece = substr(e.w, e.pos, len(v.piece))
           |  GROUP BY e.w, e.pos, e.np)""".stripMargin
      }.mkString(",\n")
      s"""WITH dtoks AS (
         |  SELECT lang, list_filter(string_split(coalesce(text, ''), ' '),
         |                           x -> len(x) > 0) AS l
         |  FROM documents),
         |words AS (
         |  SELECT w, count(*) AS n
         |  FROM (SELECT unnest(l) AS w FROM dtoks WHERE lang = 'en') GROUP BY w),
         |subs AS (
         |  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, substr(w, p, q) AS piece
         |    FROM words, range(1, 9) r1(p), range(2, 5) r2(q)
         |    WHERE p + q - 1 <= len(w)) GROUP BY piece),
         |topv AS (SELECT piece FROM subs ORDER BY cnt DESC, piece LIMIT 20),
         |aw AS (SELECT DISTINCT unnest(l) AS w FROM dtoks),
         |e0 AS (SELECT w, 1 AS pos, 0 AS np FROM aw),
         |$layers,
         |enc AS (SELECT w, np FROM e8),
         |toklang AS (SELECT lang, unnest(l) AS w FROM dtoks)
         |SELECT lang, count(*) AS n_words,
         |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(e.np) AS DOUBLE) / count(*) AS pieces_per_word
         |FROM toklang t JOIN enc e ON t.w = e.w
         |GROUP BY lang ORDER BY lang""".stripMargin
    }),

    // --- FLAGSHIP SFT pipeline: a classify job publishes the model,
    //     then a declarative op chain filters the WHOLE corpus through
    //     it (classifyFilter: keep 'pos' predictions with margin >= 1)
    //     and assigns leakage-safe splits. The training label is a
    //     signal the text actually CARRIES (>= 2 occurrences of the
    //     token 'vector' — a class-BALANCED cut, so the linear pool's
    //     prior term can't drown the evidence) and the learned filter
    //     is non-degenerate on holdout docs. The oracle retrains the
    //     classifier, re-scores every doc, and replays the split ------
    Gate("q_sft_pipeline", (s, dir) => {
      import graft.runner.JobConfig
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"),
          when(size(filter(graft.functions.Text.tokens(col("text")),
            t => t === "vector")) >= 2, "pos").otherwise("neg").as("label"))
      val tmp = java.nio.file.Files.createTempDirectory("q_sft_pipeline").toString
      labeled.write.mode("append").parquet(s"$tmp/src")
      val model = JobConfig.parse(
        s"""job.type=classify
           |job.name=sft_model
           |source.path=$tmp/src
           |classify.text=text
           |classify.label=label
           |classify.seq=doc_id
           |sink.output=$tmp/model
           |state.dir=$tmp/state
           |""".stripMargin)
      require(JobConfig.runAny(s, model)("published") == "true",
        "model build failed")
      val ops = JobConfig.buildOps(JobConfig.parse(
        s"""ops=classifyFilter,assignSplit
           |op.classifyFilter.modelPath=$tmp/model
           |op.classifyFilter.idColumn=doc_id
           |op.classifyFilter.textColumn=text
           |op.classifyFilter.keepLabel=pos
           |op.classifyFilter.minMargin=1
           |op.assignSplit.groupColumn=source
           |op.assignSplit.splits=train:0.8,val:0.1,test:0.1
           |""".stripMargin))
      ops.foldLeft(docs)((d, op) => op(d))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")
    }, {
      import operators.Converters.fractionCut
      s"""WITH ${classifierCtes("1 = 1",
             s"CASE WHEN len(list_filter($SqlToks, x -> x = 'vector')) >= 2 THEN 'pos' ELSE 'neg' END")},
         |pred AS (SELECT doc_id, (max({'s': score, 'l': label})).l AS pl,
         |    CAST(max(score) - min(score) AS BIGINT) AS mg
         |  FROM scores GROUP BY doc_id),
         |keep AS (SELECT doc_id FROM pred WHERE pl = 'pos' AND mg >= 1)
         |SELECT d.doc_id, d.source,
         |  CASE WHEN substring(md5('graft|' || d.source), 1, 4) < '${fractionCut(0.8)}' THEN 'train'
         |       WHEN substring(md5('graft|' || d.source), 1, 4) < '${fractionCut(0.9)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d JOIN keep USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // --- preference-pair construction: per prompt group (doc_id div
    //     8), chosen = best score, rejected = worst, ascending-id
    //     tie-breaks, groups without a positive margin dropped; run
    //     through the DECLARATIVE op face (ops=preferencePairs) ------
    Gate("q_preference_pairs", (s, dir) => {
      val cands = t(s, dir, "documents")
        .select((col("doc_id") / 8).cast("long").as("prompt_id"),
          col("doc_id"), pmod(col("n_chars"), lit(997)).as("score"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=preferencePairs
          |op.preferencePairs.groupColumn=prompt_id
          |op.preferencePairs.idColumn=doc_id
          |op.preferencePairs.scoreColumn=score
          |""".stripMargin))
      ops.foldLeft(cands)((d, op) => op(d)).orderBy("prompt_id")
    },
      """WITH c AS (
        |  SELECT doc_id // 8 AS prompt_id, doc_id, n_chars % 997 AS score
        |  FROM documents),
        |a AS (SELECT prompt_id,
        |    (max({'s': score, 'ni': -doc_id})).ni AS cni,
        |    max(score) AS chosen_score,
        |    (min({'s': score, 'i': doc_id})).i AS rejected_id,
        |    min(score) AS rejected_score,
        |    CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM c GROUP BY 1)
        |SELECT prompt_id, -cni AS chosen_id, chosen_score, rejected_id,
        |  rejected_score, n_candidates,
        |  chosen_score - rejected_score AS margin
        |FROM a
        |WHERE n_candidates >= 2 AND chosen_score - rejected_score >= 1
        |ORDER BY prompt_id""".stripMargin),

    // --- leakage-safe split: every SOURCE lands whole in one of
    //     train/val/test (0.8/0.1/0.1 by md5 of the group key) -------
    Gate("q_group_split", (s, dir) => {
      import operators.SftPrep
      SftPrep.assignSplit(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }, {
      import operators.Converters.fractionCut
      s"""SELECT source,
         |  CASE WHEN substring(md5('graft|' || source), 1, 4) < '${fractionCut(0.8)}' THEN 'train'
         |       WHEN substring(md5('graft|' || source), 1, 4) < '${fractionCut(0.9)}' THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY source""".stripMargin
    }),

    // --- curriculum training order: rank by difficulty (n_chars),
    //     4 contiguous stages via the exact (rank-1)*k div n cut,
    //     md5-shuffled within stages, global train_seq — every step
    //     an engine-replayable total order (no RNG), so the oracle
    //     rebuilds the identical sequence ----------------------------
    Gate("q_curriculum", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=curriculum
          |op.curriculum.idColumn=doc_id
          |op.curriculum.difficultyColumn=n_chars
          |op.curriculum.stages=4
          |""".stripMargin))
      ops.foldLeft(docs)((d, op) => op(d))
        .select(col("doc_id"), col("n_chars"), col("stage"), col("train_seq"))
        .orderBy(col("train_seq"))
    }, """
      WITH r AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
               count(*) OVER () AS n
        FROM documents),
      s AS (SELECT doc_id, n_chars, (rk - 1) * 4 // n AS stage FROM r)
      SELECT doc_id, n_chars, stage,
             row_number() OVER (ORDER BY stage, md5('cur|' || doc_id), doc_id)
               AS train_seq
      FROM s ORDER BY train_seq
    """),

    // --- language ID as an exact-integer char-TRIGRAM naive-Bayes
    //     classifier (the fastText-style upgrade over marker votes:
    //     char distributions separate close pairs like es/pt that
    //     whole-word markers cannot): train on the labeled quarter,
    //     predict the rest with margins. The oracle RE-TRAINS in SQL —
    //     counts, quantized rational weights, additive scores, argmax
    //     and the best-minus-runner-up margin, bit for bit ------------
    Gate("q_lang_id_nb", (s, dir) => {
      import graft.functions.Text
      import graft.operators.TextClassifier
      val grams = (c: org.apache.spark.sql.Column) => Text.charNgrams(c, 3)
      val docs = t(s, dir, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"), col("lang").as("label"))
      val (w, ci) = TextClassifier.train(train, "text", "label", grams)
      val heldOut = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select("doc_id", "text")
      TextClassifier.predictWithMargin(heldOut, "doc_id", "text", w, ci, grams)
        .orderBy(col("doc_id"))
    }, {
      val grams =
        "list_transform(range(1, greatest(length(text) - 1, 1)), " +
          "i -> substring(text, i, 3))"
      s"""WITH tr AS (
         |  SELECT doc_id, text, lang AS label
         |  FROM documents WHERE doc_id % 4 = 0),
         |toks AS (SELECT label, unnest($grams) AS token FROM tr),
         |counts AS (SELECT label, token, count(*) AS cnt
         |           FROM toks GROUP BY 1, 2),
         |totals AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot
         |           FROM counts GROUP BY 1),
         |vocab AS (SELECT count(DISTINCT token) AS v FROM counts),
         |docsc AS (SELECT label, count(*) AS docs_c FROM tr GROUP BY 1),
         |nd AS (SELECT CAST(sum(docs_c) AS BIGINT) AS dt FROM docsc),
         |ci AS (SELECT d.label,
         |    CAST(floor(CAST(d.docs_c * 1048576 AS DOUBLE)
         |      / CAST(dt AS DOUBLE)) AS BIGINT) AS prior,
         |    CAST(floor(CAST(1048576 AS DOUBLE)
         |      / CAST(t.tot + v AS DOUBLE)) AS BIGINT) AS w0
         |  FROM docsc d JOIN totals t ON t.label = d.label, nd, vocab),
         |wt AS (SELECT c.label, c.token,
         |    CAST(floor(CAST((c.cnt + 1) * 1048576 AS DOUBLE)
         |      / CAST(t.tot + v AS DOUBLE)) AS BIGINT) AS w
         |  FROM counts c JOIN totals t ON c.label = t.label, vocab),
         |ho AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         |occ AS (SELECT doc_id, unnest($grams) AS token FROM ho),
         |pc AS (SELECT o.doc_id, ci.label,
         |    CAST(sum(coalesce(w.w, ci.w0)) AS BIGINT) AS ts
         |  FROM occ o CROSS JOIN ci
         |  LEFT JOIN wt w ON w.token = o.token AND w.label = ci.label
         |  GROUP BY 1, 2),
         |scores AS (SELECT h.doc_id, ci.label,
         |    ci.prior + coalesce(pc.ts, 0) AS score
         |  FROM ho h CROSS JOIN ci
         |  LEFT JOIN pc ON pc.doc_id = h.doc_id AND pc.label = ci.label),
         |pred AS (SELECT doc_id,
         |    (max({'s': score, 'l': label})).l AS pred_label,
         |    CAST(max(score) AS BIGINT) AS best_score
         |  FROM scores GROUP BY doc_id),
         |sec AS (SELECT s.doc_id, CAST(max(s.score) AS BIGINT) AS s2
         |  FROM scores s JOIN pred p USING (doc_id)
         |  WHERE s.label <> p.pred_label GROUP BY s.doc_id)
         |SELECT p.doc_id, p.pred_label, p.best_score,
         |  p.best_score - sec.s2 AS margin
         |FROM pred p JOIN sec USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin
    })
  )
}
