package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Similarity, Text}
import graft.operators.Dedup

import Fixtures._

/** Text dedup gates: exact and delta dedup, MinHash/SimHash/Jaccard
  * near-dup pairs and their resolution, line, substring and chunk
  * dedup, and the incremental ledger forms.
  */
object DedupGates {

  /** Shared boilerplate planted on every 7th document's tail — the
    * "terms of service" block that exact-substring dedup exists to
    * strip (26 tokens, >= 2 full k=10 grams).
    */
  val Boiler: String =
    "terms of service apply to all content herein all rights reserved " +
      "unauthorized reproduction strictly prohibited contact the webmaster " +
      "for licensing details subject to change without notice"

  /** Second, disjoint boilerplate prepended to every 5th document
    * (15 tokens) so gates see leading spans, trailing spans, and
    * both at once on doc_id % 35 == 0.
    */
  val Boiler2: String =
    "cookie consent banner please accept our cookie policy before " +
      "continuing to browse this site today"

  /** Repetition plants for q_repetition_clean: a 5-token phrase
    * repeated 12x (scrape-loop shape — dup-trigram ratio well above
    * the drop threshold on 10-99 token docs) and a 20-token phrase
    * repeated twice (salvageable — ratio lands between trim and drop).
    * Tokens are synthetic so they never collide with corpus trigrams.
    */
  val RepDrop: String = Seq.fill(12)(" zqa zqb zqc zqd zqe").mkString

  val RepTrim: String = {
    val phrase = (1 to 20).map(i => s" rp$i").mkString
    phrase + phrase
  }

  /** documents with both boilerplate plants applied (single source of
    * truth for the Spark side; the oracle restates it in SQL).
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, concat(lit(Boiler2), lit(" ")))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" "), lit(Boiler)))
            .otherwise(lit(""))).as("text"))

  /** The planted input restated for DuckDB. */
  private val plantedSql: String =
    s"""aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$Boiler2 ' ELSE '' END || text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' $Boiler' ELSE '' END AS text
       |  FROM documents)""".stripMargin

  /** Gram/island replay shared by both substring gates (k = 10). */
  private val spanCtes: String =
    s"""$plantedSql,
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
       |g AS (
       |  SELECT doc_id, unnest(generate_series(0, len(toks) - 10)) AS i, toks
       |  FROM tk WHERE len(toks) >= 10),
       |fp AS (
       |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
       |  FROM g),
       |dup AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i, count(*) OVER (PARTITION BY fp) AS cnt FROM fp)
       |  WHERE cnt > 1),
       |isl AS (
       |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
       |      PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |    THEN 1 ELSE 0 END AS starts
       |  FROM dup),
       |grp AS (
       |  SELECT doc_id, i, sum(starts) OVER (
       |    PARTITION BY doc_id ORDER BY i) AS grp FROM isl)""".stripMargin

  private val Mersenne61 = "CAST('2305843009213693951' AS HUGEINT)"

  val gates: Seq[Gate] = Seq(
    // --- compaction delta-dedup ("largest delta wins", §2.4/§2.6) -----
    Gate("q_dedup_delta", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
      // delta = full total order: (linenumber, partkey, quantity) — the
      // synthetic data has duplicate (orderkey, linenumber) pairs, so a
      // single delta column would leave the survivor ambiguous.
      Dedup.keepMaxBy(li, Seq("l_orderkey"), Seq("l_linenumber", "l_partkey", "l_quantity"))
        .orderBy(col("l_orderkey"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC) = 1
        |ORDER BY l_orderkey""".stripMargin),

    // --- exact dedup on key projection --------------------------------
    Gate("q_dedup_exact", (s, dir) => {
      Dedup.exactKeys(t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    },
      """SELECT DISTINCT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin),

    // --- rolling-hash fingerprints + content-defined chunking (custom
    //     codegen expressions; rows-only — hash not SQL-reproducible) --
    Gate("q_rolling_fingerprint", (s, dir) => {
      import graft.functions.RollingHash
      t(s, dir, "documents").select(
        col("doc_id"),
        RollingHash.rollingHash64(col("text")).as("doc_hash"),
        size(RollingHash.contentChunkHashes(col("text"), 16, 5)).as("n_chunks"))
        .orderBy(col("doc_id"))
    }, OracleSql.rollingFingerprint(window = 16, maskBits = 5)),

    // --- document fingerprint + exact dedup ---------------------------
    Gate("q_fingerprint_dedup", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("fingerprint"))
    },
      """SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- exact n-gram Jaccard near-dup pairs (blocked, hot-shingle
    //     cap). maxDocFreq=2 deliberately BITES at sf0.01 (max shingle
    //     doc-freq there is 3) so the oracle — which replays the same
    //     stopword-shingle cut in SQL — proves the capped semantics,
    //     not just the uncapped happy path -----------------------------
    Gate("q_jaccard_pairs", (s, dir) => {
      Similarity.ngramJaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", "source", n = 3, threshold = 0.02, maxDocFreq = 2)
        .orderBy(col("block"), col("id_a"), col("id_b"))
    },
    // capped-set Jaccard: shingles with block doc-freq > 2 are removed
    // from the sets (intersection AND union) — replays ngramJaccardPairs
    // maxDocFreq=2 exactly, via the naive exploded self-join
      """WITH docsh AS (
        |  SELECT doc_id, source AS block,
        |    unnest(list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |      ELSE [] END)) AS s
        |  FROM (
        |    SELECT doc_id, source,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |    FROM documents
        |  )
        |), kept AS (
        |  SELECT * FROM docsh
        |  QUALIFY COUNT(*) OVER (PARTITION BY block, s) <= 2
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        |), inter AS (
        |  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM kept a JOIN kept b ON a.block = b.block AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3
        |)
        |SELECT i.block AS block, i.id_a, i.id_b,
        |  CAST(i.inter AS DOUBLE) / CAST(greatest(sa.n_sh + sb.n_sh - i.inter, 1) AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.id_a = sa.doc_id
        |JOIN sizes sb ON i.id_b = sb.doc_id
        |WHERE CAST(i.inter AS DOUBLE) / CAST(greatest(sa.n_sh + sb.n_sh - i.inter, 1) AS DOUBLE) >= 0.02
        |ORDER BY block, id_a, id_b""".stripMargin),

    // --- near-dup cluster resolution: pairs -> connected components ->
    //     keep best-quality survivor per cluster ----------------------
    Gate("q_neardup_resolve", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("fingerprint", Text.fingerprint(col("text")))
        .withColumn("q", Text.qualityScore(col("text")))
      // LINEAR pair construction (Dedup.starPairs): m-1 star edges per
      // fingerprint group instead of the self-join's m(m-1)/2 complete
      // graph — identical components, diameter 2 (one propagation round)
      val pairs = graft.operators.Dedup.starPairs(docs, "fingerprint", "doc_id")
      graft.operators.Dedup.resolveNearDups(docs, pairs, "doc_id", "q", "doc_id")
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, md5(text) AS fingerprint FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id DESC) = 1
        |ORDER BY doc_id""".stripMargin),

    // --- MinHash + banded LSH near-dups (FNV shingle hash — the DuckDB
    //     oracle replays signature generation end-to-end) --------------
    Gate("q_minhash_neardups", (s, dir) => {
      Similarity.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.25, shingleN = 3, numHashes = 16, bands = 4, fnv = true)
        .orderBy(col("id_a"), col("id_b"))
    }, OracleSql.minhashNearDups(threshold = 0.25, numHashes = 16, bands = 4)),

    // --- incremental MinHash near-dup (ongoing-ingest face of
    //     q_minhash_neardups): batch 1 = even docs dedups against
    //     itself and its kept signatures become the LEDGER; batch 2 =
    //     odd docs probes the ledger first (prior corpus wins), then
    //     resolves within itself — no rescan of batch 1's text. The
    //     oracle replays signatures, banding, both closures, and the
    //     precedence ----------------------------------------------
    Gate("q_minhash_incremental", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val empty = Seq.empty[(Long, Array[Long])].toDF("id", "sig")
      val (r1, ledger) = Similarity.minhashIncremental(
        b1, empty, "doc_id", "text", threshold = 0.25)
      val (r2, _) = Similarity.minhashIncremental(
        b2, ledger, "doc_id", "text", threshold = 0.25)
      r1.withColumn("batch", lit(1)).unionByName(r2.withColumn("batch", lit(2)))
        .select(col("batch"), col("id"), col("status"), col("matched_id"))
        .orderBy(col("batch"), col("id"))
    }, OracleSql.minhashIncremental(threshold = 0.25, numHashes = 16, bands = 4)),

    // --- SimHash near-dup pairs: pigeonhole-banded equi-join (scale
    //     path), FNV token hash (oracle replays it); the oracle is the
    //     naive self-join, so the gate proves band-join == brute force -
    Gate("q_simhash_pairs", (s, dir) => {
      Similarity.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          blockCol = "source", maxHamming = 12)
        .withColumnRenamed("block", "source")
        .orderBy(col("source"), col("id_a"), col("id_b"))
    },
    // Hash-heavy queries: the DuckDB SQL replays the exact FNV /
    // polynomial / sign-bit arithmetic (builders in OracleSql.scala).
      OracleSql.simhashPairs(maxHamming = 12)),

    // --- duplicate-shingle saturation (Similarity.
    //     duplicateShingleSaturation): the Dolma/CCNet boilerplate
    //     signal — fraction of a doc's distinct 3-grams with corpus
    //     doc-freq > 2. Count-only doc-freq agg (hot shingle = one
    //     counter); the oracle replays it with a window count ---------
    Gate("q_dup_saturation", (s, dir) => {
      Similarity.duplicateShingleSaturation(t(s, dir, "documents"),
          "doc_id", "text", n = 3, maxDocFreq = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      """WITH docsh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [] END)) AS s
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |        FROM documents)
        |), freq AS (
        |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS dfc FROM docsh
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN dfc > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles
        |  FROM freq GROUP BY doc_id
        |)
        |SELECT doc.doc_id,
        |  coalesce(a.n_shingles, 0) AS n_shingles,
        |  coalesce(a.n_dup_shingles, 0) AS n_dup_shingles,
        |  CAST(coalesce(a.n_dup_shingles, 0) AS DOUBLE) /
        |    CAST(greatest(coalesce(a.n_shingles, 0), 1) AS DOUBLE) AS dup_saturation
        |FROM documents doc LEFT JOIN agg a ON doc.doc_id = a.doc_id
        |ORDER BY doc.doc_id""".stripMargin),

    // --- line-level dedup (Dedup.dropDuplicateLines): CCNet-style
    //     boilerplate removal — lines occurring > 15 times corpus-wide
    //     dropped, documents reassembled in order. Lines are planted as
    //     2-token chunks (word-soup vocab ≈ 900 distinct bigrams over
    //     ~12k lines — the cap splits the corpus ~50/50, exercising
    //     both the drop and ordered-reassembly paths); cardinality
    //     preserved -------------------------------------------------
    Gate("q_line_dedup", (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        array_join(Text.chunkTokens(col("text"), 2, 2), "\n").as("text"))
      Dedup.dropDuplicateLines(planted, "doc_id", "text", maxOccurrences = 15)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, CAST(ch.k AS INT) AS pos,
        |    array_to_string(t[ch.k * 2 + 1 : ch.k * 2 + 2], ' ') AS line
        |  FROM toks, LATERAL (
        |    SELECT unnest(range(0, (greatest(len(t) - 2, 0) + 1) // 2 + 1)) AS k) ch
        |), freq AS (
        |  SELECT doc_id, pos, line, count(*) OVER (PARTITION BY line) AS lf FROM lines
        |), reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
        |  FROM freq WHERE lf <= 15 GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id,
        |    CAST((greatest(len(t) - 2, 0) + 1) // 2 + 1 AS BIGINT) AS n_lines
        |  FROM toks
        |)
        |SELECT tot.doc_id, tot.n_lines,
        |  coalesce(reb.n_kept, 0) AS n_kept,
        |  coalesce(reb.cleaned_text, '') AS cleaned_text
        |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
        |ORDER BY tot.doc_id""".stripMargin),

    // --- edit-distance confirmation (Similarity.editDistanceConfirm):
    //     exact Levenshtein over ONLY the Jaccard candidate pairs —
    //     the affordable-because-candidates-are-few second stage of
    //     near-dup detection. Both engines ship levenshtein natively -
    Gate("q_editdist_confirm", (s, dir) => {
      import graft.functions.Similarity
      val docs = t(s, dir, "documents")
      val pairs = Similarity.ngramJaccardPairs(docs,
          "doc_id", "text", "source", n = 3, threshold = 0.02, maxDocFreq = 2)
        .select(col("id_a"), col("id_b"))
      Similarity.editDistanceConfirm(pairs, docs, "doc_id", "text", maxRel = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH docsh AS (
        |  SELECT doc_id, source AS block,
        |    unnest(list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |      ELSE [] END)) AS s
        |  FROM (
        |    SELECT doc_id, source,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |    FROM documents
        |  )
        |), kept AS (
        |  SELECT * FROM docsh
        |  QUALIFY COUNT(*) OVER (PARTITION BY block, s) <= 2
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        |), inter AS (
        |  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM kept a JOIN kept b ON a.block = b.block AND a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3
        |), pairs AS (
        |  SELECT i.id_a, i.id_b FROM inter i
        |  JOIN sizes sa ON i.id_a = sa.doc_id
        |  JOIN sizes sb ON i.id_b = sb.doc_id
        |  WHERE CAST(i.inter AS DOUBLE) / CAST(greatest(sa.n_sh + sb.n_sh - i.inter, 1) AS DOUBLE) >= 0.02
        |)
        |SELECT p.id_a, p.id_b,
        |  CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
        |  CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / greatest(len(da.text), len(db.text), 1) AS rel_dist,
        |  CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |    / greatest(len(da.text), len(db.text), 1) <= 0.4 AS confirmed
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin),

    // --- incremental ledger dedup (Dedup.incrementalExact): a new
    //     batch dedups against the corpus's fingerprint LEDGER (one
    //     narrow hash column — never a corpus rescan) then min-id
    //     within the batch. The ongoing-ingest face of exact dedup;
    //     ledger = fingerprints of docs with doc_id % 3 == 0 ----------
    Gate("q_incremental_dedup", (s, dir) => {
      import graft.functions.Text
      import graft.operators.Dedup
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), Text.fingerprint(col("text")).as("fp"))
      val ledger = docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("fp"))
      val (kept, additions) = Dedup.incrementalExact(docs, ledger, "fp", "doc_id")
      // the ledger grows by exactly the kept fingerprints
      require(additions.count() == kept.count(), "one ledger addition per kept row")
      kept.select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    },
      """WITH fp AS (SELECT doc_id, lang, md5(text) AS f FROM documents),
        |led AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
        |fresh AS (SELECT * FROM fp WHERE f NOT IN (SELECT f FROM led))
        |SELECT doc_id, lang FROM fresh
        |QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin),

    // --- SemDeDup (Abbas et al. 2023): semantic dedup over embeddings
    //     — deterministic sampled coarse quantizer, per-cluster
    //     pairwise cosine, min-id survivor. The pairwise test never
    //     leaves a cluster (candidate join keyed on cluster id), which
    //     is the paper's own scale trick. Oracle replays quantizer,
    //     assignment, and the drop rule exactly ------------------------
    Gate("q_semantic_dedup", (s, dir) => {
      import graft.functions.Ann
      val emb = t(s, dir, "embeddings")
      val index = Ann.sampledIvf(emb, k = 16)
      Ann.semanticDedup(emb, index, threshold = 0.9)
        .orderBy(col("vec_id"))
    }, OracleSql.semanticDedup(nCentroids = 16, threshold = 0.9)),

    // --- exact-substring dedup, span report (Lee et al. 2021
    //     ExactSubstr; scale notes in SubstringDedup.scala): plant
    //     shared head/tail boilerplate, find every maximal duplicated
    //     token span of >= 10 tokens. The oracle replays the md5 gram
    //     fingerprints and the gaps-and-islands merge bit-for-bit ----
    Gate("q_substring_spans", (s, dir) => {
      import graft.operators.SubstringDedup
      SubstringDedup
        .duplicatedSpans(plantedDocs(s, dir), "doc_id", "text", k = 10)
        .orderBy(col("doc_id"), col("span_start"))
    },
      s"""WITH $spanCtes
         |SELECT doc_id, min(i) AS span_start, max(i) + 9 AS span_end,
         |  max(i) + 9 - min(i) + 1 AS span_len
         |FROM grp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin),

    // --- Gopher repetition removal (RepetitionRemoval.clean): heavy
    //     repetition planted on doc_id % 11 (5-token phrase x12 ->
    //     dup-trigram ratio ~0.3-0.8 -> drop), moderate on doc_id % 5
    //     (20-token phrase x2 -> ratio ~0.1-0.4 -> trim unless the
    //     drop threshold fires first); natural corpus repetition tops
    //     out at ~0.07, safely under trimAbove = 0.1. The oracle
    //     replays signal, classification, within-doc islands, and the
    //     cleaned text token-by-token -------------------------------
    Gate("q_repetition_clean", (s, dir) => {
      import graft.operators.RepetitionRemoval
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(RepDrop))
            .when(col("doc_id") % 5 === 0, lit(RepTrim))
            .otherwise(lit(""))).as("text"))
      RepetitionRemoval.clean(docs, "doc_id", "text",
          dupN = 3, dropAbove = 0.25, trimK = 10, trimAbove = 0.1)
        .select(col("doc_id"), col("dup_ratio"), col("action"),
          col("n_tokens"), col("n_dup_tokens"),
          md5(coalesce(col("clean_text"), lit("<dropped>"))).as("clean_fp"))
        .orderBy(col("doc_id"))
    },
    // replay of RepetitionRemoval.clean: dup-trigram signal over
    // FILTERED tokens, classification, within-doc (doc, fp) islands at
    // k=10 over RAW split tokens, and span-removal reconstruction
      s"""WITH raug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 11 = 0 THEN '$RepDrop'
         |         WHEN doc_id % 5 = 0 THEN '$RepTrim'
         |         ELSE '' END AS text
         |  FROM documents),
         |rtok AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ft,
         |    string_split(text, ' ') AS rt
         |  FROM raug),
         |rsig AS (
         |  SELECT doc_id, text, rt,
         |    CASE WHEN len(ft) >= 3 THEN
         |      CAST(len(ft) - 2 - len(list_distinct(list_transform(
         |        range(1, len(ft) - 1),
         |        i -> array_to_string(ft[i:i+2], ' ')))) AS DOUBLE) / (len(ft) - 2)
         |      ELSE 0.0 END AS dup_ratio
         |  FROM rtok),
         |ract AS (
         |  SELECT *, CASE WHEN dup_ratio > 0.25 THEN 'drop'
         |                 WHEN dup_ratio > 0.1 THEN 'trim'
         |                 ELSE 'keep' END AS action
         |  FROM rsig),
         |rg AS (
         |  SELECT doc_id, rt AS toks,
         |    unnest(generate_series(0, len(rt) - 10)) AS i
         |  FROM ract WHERE action = 'trim' AND len(rt) >= 10),
         |rfp AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
         |  FROM rg),
         |rdup AS (
         |  SELECT doc_id, i FROM (
         |    SELECT doc_id, i, count(*) OVER (PARTITION BY doc_id, fp) AS cnt
         |    FROM rfp)
         |  WHERE cnt > 1),
         |risl AS (
         |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |    THEN 1 ELSE 0 END AS starts
         |  FROM rdup),
         |rgrp AS (
         |  SELECT doc_id, i, sum(starts) OVER (
         |    PARTITION BY doc_id ORDER BY i) AS grp FROM risl),
         |rspans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 9 AS e
         |  FROM rgrp GROUP BY doc_id, grp),
         |rpos AS (
         |  SELECT doc_id, unnest(generate_series(0, len(rt) - 1)) AS p, rt AS toks
         |  FROM ract WHERE action = 'trim'),
         |rkeep AS (
         |  SELECT rpos.doc_id, rpos.p, rpos.toks[rpos.p + 1] AS tok
         |  FROM rpos LEFT JOIN rspans sp
         |    ON rpos.doc_id = sp.doc_id AND rpos.p BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |ragg AS (
         |  SELECT doc_id, count(*) AS n_keep,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM rkeep GROUP BY doc_id)
         |SELECT a.doc_id, a.dup_ratio, a.action,
         |  CAST(len(a.rt) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN a.action = 'keep' THEN 0
         |            WHEN a.action = 'drop' THEN len(a.rt)
         |            ELSE len(a.rt) - coalesce(g.n_keep, 0) END AS BIGINT)
         |    AS n_dup_tokens,
         |  CASE WHEN a.action = 'drop' THEN md5('<dropped>')
         |       WHEN a.action = 'keep' THEN md5(a.text)
         |       ELSE coalesce(g.clean_fp, md5('')) END AS clean_fp
         |FROM ract a LEFT JOIN ragg g USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin),

    // --- exact-substring dedup, removal (ALL occurrences dropped):
    //     per-document token counts plus an md5 of the cleaned text,
    //     which the oracle rebuilds token-by-token ------------------
    Gate("q_substring_clean", (s, dir) => {
      import graft.operators.SubstringDedup
      SubstringDedup
        .removeSpans(plantedDocs(s, dir), "doc_id", "text", k = 10)
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("n_dup_tokens"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $spanCtes,
         |spans AS (
         |  SELECT doc_id, min(i) AS s, max(i) + 9 AS e
         |  FROM grp GROUP BY doc_id, grp),
         |pos AS (
         |  SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS p, toks
         |  FROM tk),
         |keep AS (
         |  SELECT pos.doc_id, pos.p, pos.toks[pos.p + 1] AS tok
         |  FROM pos LEFT JOIN spans sp
         |    ON pos.doc_id = sp.doc_id AND pos.p BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_keep,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM keep GROUP BY doc_id)
         |SELECT t.doc_id,
         |  len(t.toks) AS n_tokens,
         |  len(t.toks) - coalesce(a.n_keep, 0) AS n_dup_tokens,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // --- incremental exact-substring dedup (the ongoing-ingest face):
    //     batch 1 = even docs builds the gram-fingerprint ledger;
    //     batch 2 = odd docs dedups against itself AND the ledger —
    //     a boilerplate seen only once in batch 2 is still caught
    //     because batch 1 recorded it. Oracle replays both batches'
    //     grams and the two duplication sources -------------------
    Gate("q_substring_incremental", (s, dir) => {
      import s.implicits._
      import graft.operators.SubstringDedup
      val docs = plantedDocs(s, dir)
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val (_, ledger) = SubstringDedup.duplicatedSpansIncremental(
        b1, "doc_id", "text", k = 10, Seq.empty[String].toDF("fp"))
      val (spans, _) = SubstringDedup.duplicatedSpansIncremental(
        b2, "doc_id", "text", k = 10, ledger)
      spans.orderBy(col("doc_id"), col("span_start"))
    },
      s"""WITH $plantedSql,
         |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
         |g AS (
         |  SELECT doc_id, unnest(generate_series(0, len(toks) - 10)) AS i, toks
         |  FROM tk WHERE len(toks) >= 10),
         |fpt AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i + 1:i + 10], ' ')) AS fp
         |  FROM g),
         |b2 AS (SELECT * FROM fpt WHERE doc_id % 2 = 1),
         |led AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 2 = 0),
         |b2d AS (SELECT fp FROM b2 GROUP BY fp HAVING count(*) > 1),
         |dup AS (
         |  SELECT DISTINCT doc_id, i FROM b2
         |  WHERE fp IN (SELECT fp FROM b2d) OR fp IN (SELECT fp FROM led)),
         |isl AS (
         |  SELECT doc_id, i, CASE WHEN i > coalesce(max(i + 9) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |    THEN 1 ELSE 0 END AS starts
         |  FROM dup),
         |grp AS (
         |  SELECT doc_id, i, sum(starts) OVER (
         |    PARTITION BY doc_id ORDER BY i) AS grp FROM isl)
         |SELECT doc_id, min(i) AS span_start, max(i) + 9 AS span_end,
         |  max(i) + 9 - min(i) + 1 AS span_len
         |FROM grp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin),

    // --- content-defined chunk dedup (operators/ChunkDedup.scala):
    //     boilerplate planted mid-corpus (every 7th doc) chunks
    //     identically wherever it lands, so its chunks go cross-doc-
    //     shared; per-doc occurrence accounting. Oracle replays the
    //     rolling window hash, boundary cuts, per-chunk fingerprints
    //     and the shared-set in DuckDB list algebra ------------------
    Gate("q_cdc_chunk_dedup", (s, dir) => {
      import graft.operators.ChunkDedup
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" "), lit(Boiler))).otherwise(lit("")))
          .as("txt"))
      ChunkDedup.sharedChunkStats(planted, "doc_id", col("txt"),
          window = 16, maskBits = 5)
        .orderBy(col("doc_id"))
    }, {
      val poly = s"(h, c) -> (h * 257 + c) % $Mersenne61"
      s"""WITH codes AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(txt) + 1),
         |      ch_i -> CAST(unicode(substring(txt, ch_i, 1)) + 1 AS HUGEINT)) AS cs
         |  FROM (SELECT doc_id,
         |          text || CASE WHEN doc_id % 7 = 0
         |                       THEN ' ${Boiler}'
         |                       ELSE '' END AS txt
         |        FROM documents)
         |), base AS (
         |  SELECT doc_id, cs,
         |    list_filter(range(15, len(cs)), w_i ->
         |      list_reduce(cs[w_i - 14 : w_i + 1], $poly) % 32 = 31) AS bounds
         |  FROM codes
         |), withtail AS (
         |  SELECT doc_id, cs, bounds,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      cs[CASE WHEN len(bounds) > 0 THEN bounds[-1] + 2 ELSE 1 END : len(cs)]),
         |      $poly) AS tail_h
         |  FROM base
         |), ch AS (
         |  SELECT doc_id,
         |    list_concat(
         |      list_transform(range(len(bounds)), j ->
         |        CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |          cs[CASE WHEN j = 0 THEN 1 ELSE bounds[j] + 2 END : bounds[j + 1] + 1]),
         |          $poly) AS BIGINT)),
         |      CASE WHEN tail_h <> 0 THEN [CAST(tail_h AS BIGINT)]
         |           ELSE CAST([] AS BIGINT[]) END) AS chunks
         |  FROM withtail
         |), occ AS (
         |  SELECT doc_id, unnest(chunks) AS chunk FROM ch
         |), sh AS (
         |  SELECT chunk FROM occ GROUP BY chunk
         |  HAVING count(DISTINCT doc_id) >= 2)
         |SELECT o.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN o.chunk IN (SELECT chunk FROM sh)
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |FROM occ o GROUP BY o.doc_id
         |ORDER BY o.doc_id""".stripMargin
    })
  )
}
