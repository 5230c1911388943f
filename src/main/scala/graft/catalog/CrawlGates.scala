package graft
package catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Crawl gates: WARC ingest and extraction, robots and sitemaps, URL
  * canonicalization, fetch planning, link ranking, CDX(J) indexes and
  * the cdxfetch consumption chain.
  */
object CrawlGates {

  /** WARC fixture shared by q_warc_extract / q_crawl_ingest: docs
    * below 250 packed 5-per-file as HTTP response records wrapping
    * `<html>text</html>`, odd file ids in the Common Crawl
    * member-per-record gzip layout.
    */
  private def warcFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.WarcCodec
    t(s, dir, "documents")
      .filter(col("doc_id") < 250)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / 5)
      .mapGroups { (fid, docs) =>
        val pages = docs.toSeq.sortBy(_._1).map { case (id, text) =>
          (s"https://example.com/doc/$id",
            s"<html>$text</html>".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (fid, WarcCodec.writeResponses(pages, gzipPerRecord = fid % 2 == 1))
      }
      .toDF("media_id", "content")
  }

  /** Shared WARC-record oracle (q_warc_extract and its streaming
    * face — streaming == batch).
    */
  private val WarcOracle: String =
    """WITH d AS (
      |  SELECT doc_id, coalesce(text, '') AS t, doc_id // 5 AS fid
      |  FROM documents WHERE doc_id < 250),
      |r AS (
      |  SELECT fid, doc_id, t,
      |    row_number() OVER (PARTITION BY fid ORDER BY doc_id) - 1 AS rn
      |  FROM d)
      |SELECT fid AS media_id, CAST(rn AS BIGINT) AS record_no,
      |  'response' AS warc_type,
      |  'https://example.com/doc/' || doc_id AS target_uri,
      |  'application/http;msgtype=response' AS content_type,
      |  CAST(77 + len(CAST(strlen(t) + 13 AS VARCHAR))
      |    + strlen(t) + 13 AS BIGINT) AS content_length,
      |  CAST(200 AS BIGINT) AS http_status,
      |  CAST(strlen(t) + 13 AS BIGINT) AS payload_bytes,
      |  '<html>' || t || '</html>' AS payload_text
      |FROM r ORDER BY media_id, record_no""".stripMargin

  /** Shared synthetic two-level sitemap world over `docs`: per
    * (source, j = doc_id % 3) child `<urlset>` (optional lastmod by
    * doc_id % 5) + per-source `<sitemapindex>` listing the children
    * (optional lastmod by j % 2). Both q_sitemap_index and
    * q_sitemap_discovery's oracles restate the formulas.
    */
  private def sitemapWorld(docs: DataFrame): (DataFrame, DataFrame) = {
    val children = docs
      .withColumn("j", pmod(col("doc_id"), lit(3)).cast("int"))
      .groupBy(col("source"), col("j"))
      .agg(concat(
        lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
        concat_ws("\n", sort_array(collect_list(concat(
          lit("  <url><loc> https://www."), col("source"),
          lit(".example.com/p/"), col("doc_id"), lit("?a=1&amp;b=2 </loc>"),
          when(pmod(col("doc_id"), lit(5)) =!= 0,
            concat(lit("<lastmod>2024-0"),
              lit(1) + pmod(col("doc_id"), lit(9)),
              lit("-15</lastmod>"))).otherwise(lit("")),
          lit("</url>"))))),
        lit("\n</urlset>")).as("xml"))
      .withColumn("child_url",
        concat(lit("https://www."), col("source"),
          lit(".example.com/sitemap"), col("j"), lit(".xml")))
    val index = children.groupBy(col("source"))
      .agg(concat(
        lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n"),
        concat_ws("\n", sort_array(collect_list(concat(
          lit("  <sitemap><loc> "), col("child_url"), lit(" </loc>"),
          when(pmod(col("j"), lit(2)) === 0,
            concat(lit("<lastmod>2024-1"), col("j"),
              lit("-01</lastmod>"))).otherwise(lit("")),
          lit("</sitemap>"))))),
        lit("\n</sitemapindex>")).as("index_xml"))
    (children, index)
  }

  /** Shared mini-crawl for the cdxfetch gates: 240 pages (content key
    * ck makes epoch-2/late batches mostly duplicate digests) across 4
    * member-per-record .warc.gz files written to `warcDir`, returning
    * CDX rows (url digest filename offset length seq) over the REAL
    * member offsets. Every url of a doc < 40 additionally gets a
    * RECAPTURE (fresh content, seq 240+d) written IMMEDIATELY after
    * its original member — so each epoch's coalesced byte ranges
    * decode the OTHER epoch's capture of the same URL as a neighbor,
    * and the fetched-row join-back is only correct when keyed on the
    * record's (filename, offset) identity, never on url. The oracle
    * replays ck + the min-d winner rule + the recapture rows.
    */
  private[graft] def buildMiniCrawl(s: SparkSession, dir: String,
      warcDir: String): DataFrame = {
    import s.implicits._
    import graft.operators.WarcCodec
    val ds = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 240).as[Long].collect().sorted
    def ck(d: Long): Long =
      if (d >= 120 && d % 3 == 0) 40 + d % 40 else d % 40
    def payload(d: Long): String = {
      val c = ck(d)
      s"<html><p>page c$c body w${c * 7 % 50}</p></html>"
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(warcDir))
    val rows = (0 until 4).flatMap { f =>
      val members = ds.filter(_ % 4 == f).toSeq
      val pages: Seq[(String, Array[Byte], Long)] = members.flatMap { d =>
        val orig = (s"https://site$d.example/p",
          payload(d).getBytes("UTF-8"), d)
        if (d < 40)
          Seq(orig, (s"https://site$d.example/p",
            s"<html><p>recrawl r$d body</p></html>".getBytes("UTF-8"),
            240 + d))
        else Seq(orig)
      }
      val (bytes, idx) = WarcCodec.writeResponsesIndexed(
        pages.map(p => (p._1, p._2)))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$warcDir/crawl-$f.warc.gz"), bytes)
      pages.zip(idx).map { case ((uri, pl, seqv), (_, off, len)) =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(pl).map(b => f"${b & 0xff}%02x").mkString
        (uri, digest, s"crawl-$f.warc.gz", off, len, seqv)
      }
    }
    rows.toDF("url", "digest", "filename", "offset", "length", "seq")
  }

  /** Full-recompute digest-ledger oracle shared by q_cdxfetch_job and
    * q_stream_cdxfetch: the ck winner rows (min-d per content key)
    * plus the recapture rows of [[buildMiniCrawl]].
    */
  private[graft] val cdxLedgerOracle: String =
    """WITH d AS (
      |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
      |c AS (
      |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
      |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
      |p AS (
      |  SELECT d, ck,
      |    '<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
      |      '</p></html>' AS payload
      |  FROM c),
      |w AS (
      |  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY d) AS rn
      |  FROM p),
      |orig AS (
      |  SELECT md5(payload) AS digest,
      |    'https://site' || d || '.example/p' AS url,
      |    CAST(d AS BIGINT) AS seq,
      |    CAST(length(payload) AS BIGINT) AS n_chars
      |  FROM w WHERE rn = 1),
      |rec AS (
      |  SELECT md5('<html><p>recrawl r' || d || ' body</p></html>')
      |      AS digest,
      |    'https://site' || d || '.example/p' AS url,
      |    CAST(240 + d AS BIGINT) AS seq,
      |    CAST(length('<html><p>recrawl r' || d || ' body</p></html>')
      |      AS BIGINT) AS n_chars
      |  FROM d WHERE d < 40)
      |SELECT digest, url, seq, n_chars
      |FROM (SELECT * FROM orig UNION ALL SELECT * FROM rec) u
      |ORDER BY digest""".stripMargin

  /** [[buildMiniCrawl]] with the index's `mime`
    * column (all real captures are text/html; revisit rows add their
    * own `warc/revisit` marker).
    */
  private def buildMiniCrawlMime(s: SparkSession, dir: String,
      warcDir: String): DataFrame =
    buildMiniCrawl(s, dir, warcDir)
      .withColumn("mime", lit("text/html"))

  val gates: Seq[Gate] = Seq(
    // --- crawl-ingest chain: WARC container walk -> HTTP payload ->
    //     C4-style HTML strip -> per-page domain + text stats. The
    //     wrap/strip chain must be LOSSLESS on the fixture corpus, so
    //     the oracle asserts the round-trip against the source table
    //     directly (stripHtml itself is SQL-replayed in
    //     q_html_url_clean) -------------------------------------------
    Gate("q_crawl_ingest", (s, dir) => {
      import graft.functions.Text
      val recs = graft.operators.WarcCodec.records(warcFixture(s, dir)).toDF()
      recs.select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          Text.urlDomain(col("target_uri")).as("domain"),
          Text.stripHtml(col("payload_text")).as("clean"))
        .select(col("doc_id"), col("domain"),
          Text.tokenCount(col("clean")).cast("long").as("n_tokens"),
          length(col("clean")).cast("long").as("clean_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, 'example.com' AS domain,
        |  CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(coalesce(text, '')) AS BIGINT) AS clean_chars
        |FROM documents WHERE doc_id < 250 ORDER BY doc_id""".stripMargin),

    // --- WARC container extraction (WarcCodec): corpus pages packed
    //     5-per-file into real WARC response records (odd files in
    //     the Common Crawl member-per-record gzip layout), then
    //     record-walked + HTTP-split back out on executors. The
    //     oracle replays record numbering, exact HTTP/WARC lengths,
    //     and payload text from the same construction ----------------
    Gate("q_warc_extract", (s, dir) => {
      graft.operators.WarcCodec.records(warcFixture(s, dir)).toDF()
        .select(col("media_id"),
          col("record_no").cast("long").as("record_no"),
          col("warc_type"), col("target_uri"), col("content_type"),
          col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("payload_bytes"), col("payload_text"))
        .orderBy(col("media_id"), col("record_no"))
    }, WarcOracle),

    // --- main-content extraction (Text.mainContent): body paragraphs
    //     survive, nav/ad/footer blocks drop on link density — the
    //     boilerplate-removal stage between raw HTML and C4 cleaning.
    //     Fixture wraps each doc's text halves in content <p> blocks
    //     between a link-farm nav, an ad block, and a footer; the
    //     oracle replays block split, per-block clean/link-char
    //     scoring, and reassembly --------------------------------------
    Gate("q_main_content", (s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val half = (length(col("text")) / 2).cast("int")
      val html = concat(
        lit("<div><nav><a href=\"/h\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></nav></div>"),
        lit("<p>"), col("text").substr(lit(1), half), lit("</p>"),
        lit("<div>ad: <a href=\"/x\">click here right now</a></div>"),
        lit("<p>"), col("text").substr(half + 1, length(col("text"))), lit("</p>"),
        lit("<footer><a href=\"/p\">Privacy</a></footer>"))
      docs.select(col("doc_id"),
          Text.mainContent(html, minChars = 15,
            maxLinkNum = 1, maxLinkDen = 3).as("extracted"))
        .orderBy(col("doc_id"))
    }, {
      val blockRe =
        """</?(?:p|div|nav|footer|header|section|article|li|ul|ol|h[1-6]|table|tr|td)[^>]*>"""
      // fixture is entity-free, so clean = strip tags + collapse
      def clean(e: String): String =
        s"trim(regexp_replace(regexp_replace($e, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"
      s"""WITH d AS (
         |  SELECT doc_id, coalesce(text, '') AS t FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    '<div><nav><a href="/h">Home</a> <a href="/a">About</a> '
         |      || '<a href="/c">Contact</a></nav></div>'
         |      || '<p>' || substr(t, 1, len(t) // 2) || '</p>'
         |      || '<div>ad: <a href="/x">click here right now</a></div>'
         |      || '<p>' || substr(t, len(t) // 2 + 1) || '</p>'
         |      || '<footer><a href="/p">Privacy</a></footer>' AS html
         |  FROM d),
         |b AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(html, '$blockRe'), x ->
         |      len(${clean("x")}) >= 15
         |      AND coalesce(list_sum(list_transform(
         |            regexp_extract_all(x, '(?s)<a[^>]*>(.*?)</a>', 1),
         |            a -> len(${clean("a")}))), 0) * 3
         |          <= len(${clean("x")}) * 1) AS kept
         |  FROM h)
         |SELECT doc_id,
         |  trim(regexp_replace(array_to_string(
         |    list_transform(kept, x -> ${clean("x")}), ' '),
         |    '\\s+', ' ', 'g')) AS extracted
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    // --- sitemap URL discovery (Text.sitemapUrls): per-source
    //     sitemap.xml bodies synthesized from the corpus (entity-
    //     escaped query strings), <loc> entries extracted + decoded,
    //     exploded to (source, url). Oracle replays the regexp and
    //     entity chain ------------------------------------------------
    Gate("q_sitemap_urls", (s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
      val sitemaps = docs.groupBy(col("source"))
        .agg(concat(
          lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          concat_ws("\n", sort_array(collect_list(concat(
            lit("  <url><loc> https://www."), col("source"),
            lit(".example.com/p/"), col("doc_id"),
            lit("?a=1&amp;b=2 </loc></url>"))))),
          lit("\n</urlset>")).as("xml"))
      sitemaps.select(col("source"),
          explode(Text.sitemapUrls(col("xml"))).as("url"))
        .orderBy(col("source"), col("url"))
    },
      """SELECT source,
        |  'https://www.' || source || '.example.com/p/' || doc_id
        |    || '?a=1&b=2' AS url
        |FROM documents WHERE doc_id < 250
        |ORDER BY source, url""".stripMargin),

    // --- FLAGSHIP crawl-curation chain: WARC ingest -> robots.txt
    //     policy gate -> HTML strip -> exact dedup (first id wins) ->
    //     token-count quality floor -> WebDataset shard packaging.
    //     Every stage is an already-gated operator; this chain proves
    //     they COMPOSE (the reference's end-to-end job semantics).
    //     The oracle replays the whole funnel ------------------------
    Gate("q_crawl_curate", (s, dir) => {
      import graft.functions.Text
      import graft.operators.{Robots, TarCodec, WarcCodec}
      // 1. container ingest
      val pages = WarcCodec.records(warcFixture(s, dir)).toDF()
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("payload_text"))
      // 2. robots policy over the SAME synthetic rule set as
      //    q_robots_filter, URLs keyed by doc_id % 5
      val docs = t(s, dir, "documents")
      val srcs = docs.select(col("source")).distinct()
        .withColumn("i", substring(col("source"), 4, 10).cast("int"))
      val robots = srcs.select(
        concat(lit("www."), col("source"), lit(".example.com")).as("domain"),
        concat(
          lit("User-agent: *\nDisallow: /blocked/\nAllow: /blocked/open\n"),
          when(pmod(col("i"), lit(2)) === 0,
            lit("\nUser-agent: graftbot\nDisallow: /beta/\n")).otherwise(lit("")))
          .as("content"))
      val withUrl = pages.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("crawl_url",
          concat(lit("https://www."), col("source"), lit(".example.com"),
            expr("""CASE CAST(doc_id % 5 AS INT)
                   |  WHEN 0 THEN '/blocked/a' || doc_id
                   |  WHEN 1 THEN '/blocked/open/' || doc_id
                   |  WHEN 2 THEN '/beta/x' || doc_id
                   |  WHEN 3 THEN '/ok/' || doc_id
                   |  ELSE '/' || doc_id END""".stripMargin)))
      val polite = Robots.filterAllowed(withUrl, "crawl_url",
        Robots.rulesTable(robots, "domain", "content"), "graftbot")
      // 3. HTML strip, 4. exact dedup (first doc_id per text wins),
      // 5. quality floor
      val cleaned = polite
        .select(col("doc_id"), Text.stripHtml(col("payload_text")).as("clean"))
      val deduped = cleaned
        .groupBy(col("clean")).agg(min(col("doc_id")).as("doc_id"))
        .filter(Text.tokenCount(col("clean")) >= 20)
      // 6. package for the loader
      TarCodec.readWebDataset(TarCodec.exportWebDataset(
          deduped, "doc_id", "clean", docsPerShard = 5)).toDF()
        .select(col("shard_id"), col("member"), col("n_bytes"))
        .orderBy(col("shard_id"), col("member"))
    },
      """WITH base AS (
        |  SELECT doc_id, source, coalesce(text, '') AS t
        |  FROM documents WHERE doc_id < 250),
        |s AS (
        |  SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS i
        |  FROM documents),
        |rules AS (
        |  SELECT source, '*' AS agent, FALSE AS allow, '/blocked/' AS path FROM s
        |  UNION ALL SELECT source, '*', TRUE, '/blocked/open' FROM s
        |  UNION ALL SELECT source, 'graftbot', FALSE, '/beta/' FROM s WHERE i % 2 = 0),
        |u AS (
        |  SELECT b.*, CASE doc_id % 5
        |      WHEN 0 THEN '/blocked/a' || doc_id
        |      WHEN 1 THEN '/blocked/open/' || doc_id
        |      WHEN 2 THEN '/beta/x' || doc_id
        |      WHEN 3 THEN '/ok/' || doc_id
        |      ELSE '/' || doc_id END AS p
        |  FROM base b),
        |grp AS (
        |  SELECT source, max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END) AS hx
        |  FROM rules GROUP BY 1),
        |appl AS (
        |  SELECT r.source, r.allow, r.path
        |  FROM rules r JOIN grp g ON g.source = r.source
        |  WHERE (g.hx = 1 AND r.agent = 'graftbot')
        |     OR (g.hx = 0 AND r.agent = '*')),
        |polite AS (
        |  SELECT u.doc_id, u.t,
        |    (max({'l': len(a.path), 'a': a.allow})).a AS verdict,
        |    count(a.path) AS nm
        |  FROM u LEFT JOIN appl a
        |    ON a.source = u.source AND starts_with(u.p, a.path)
        |  GROUP BY 1, 2),
        |dedup AS (
        |  SELECT t, min(doc_id) AS doc_id FROM polite
        |  WHERE nm = 0 OR verdict GROUP BY t),
        |kept AS (
        |  SELECT doc_id, t FROM dedup
        |  WHERE len(list_filter(string_split(t, ' '), x -> len(x) > 0)) >= 20)
        |SELECT doc_id // 5 AS shard_id, printf('%012d.txt', doc_id) AS member,
        |  CAST(strlen(t) AS BIGINT) AS n_bytes
        |FROM kept ORDER BY shard_id, member""".stripMargin),

    // --- robots.txt politeness filter (Robots): per-domain policies
    //     PARSED from real robots.txt text (group runs, comments,
    //     unknown directives), URLs resolved relationally — longest
    //     path match, Allow wins ties, exact-agent group beats * and
    //     SUPPRESSES it. Even-numbered sources publish a graftbot
    //     group, so the same path is blocked on some domains and
    //     allowed on others. The oracle rebuilds the rule table from
    //     the generator formula and replays the decision ------------
    Gate("q_robots_filter", (s, dir) => {
      import operators.Robots
      val docs = t(s, dir, "documents")
      val srcs = docs.select(col("source")).distinct()
        .withColumn("i", substring(col("source"), 4, 10).cast("int"))
      val robots = srcs.select(
        concat(lit("www."), col("source"), lit(".example.com")).as("domain"),
        concat(
          lit("# synthetic policy\nUser-agent: *\nDisallow: /blocked/\nAllow: /blocked/open\n"),
          when(pmod(col("i"), lit(2)) === 0,
            lit("\nUser-agent: graftbot\nDisallow: /beta/\n")).otherwise(lit("")))
          .as("content"))
      val urls = docs.select(col("doc_id"), col("source"),
        concat(lit("https://www."), col("source"), lit(".example.com"),
          expr("""CASE CAST(doc_id % 5 AS INT)
                 |  WHEN 0 THEN '/blocked/a' || doc_id
                 |  WHEN 1 THEN '/blocked/open/' || doc_id
                 |  WHEN 2 THEN '/beta/x' || doc_id
                 |  WHEN 3 THEN '/ok/' || doc_id
                 |  ELSE '/' || doc_id END""".stripMargin)).as("url"))
      Robots.filterAllowed(urls,
          "url", Robots.rulesTable(robots, "domain", "content"), "GraftBot")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (
        |  SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS i
        |  FROM documents),
        |rules AS (
        |  SELECT source, '*' AS agent, FALSE AS allow, '/blocked/' AS path FROM s
        |  UNION ALL SELECT source, '*', TRUE, '/blocked/open' FROM s
        |  UNION ALL SELECT source, 'graftbot', FALSE, '/beta/' FROM s WHERE i % 2 = 0),
        |u AS (
        |  SELECT doc_id, source,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/blocked/a' || doc_id
        |      WHEN 1 THEN '/blocked/open/' || doc_id
        |      WHEN 2 THEN '/beta/x' || doc_id
        |      WHEN 3 THEN '/ok/' || doc_id
        |      ELSE '/' || doc_id END AS p
        |  FROM documents),
        |grp AS (
        |  SELECT source, max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END) AS hx
        |  FROM rules GROUP BY 1),
        |appl AS (
        |  SELECT r.source, r.allow, r.path
        |  FROM rules r JOIN grp g ON g.source = r.source
        |  WHERE (g.hx = 1 AND r.agent = 'graftbot')
        |     OR (g.hx = 0 AND r.agent = '*')),
        |m AS (
        |  SELECT u.doc_id, u.source, u.p,
        |    (max({'l': len(a.path), 'a': a.allow})).a AS verdict,
        |    count(a.path) AS nm
        |  FROM u LEFT JOIN appl a
        |    ON a.source = u.source AND starts_with(u.p, a.path)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  'https://www.' || source || '.example.com' || p AS url
        |FROM m WHERE nm = 0 OR verdict ORDER BY doc_id""".stripMargin),

    // --- STREAMING WARC ingest (binaryFile source + AvailableNow):
    //     crawl files LAND in a directory and stream through the
    //     container walk — the reference's flagship file-ingest shape
    //     (FileBasedSource + streaming mode) over real WARC bytes.
    //     Same oracle as q_warc_extract: streaming == batch ----------
    Gate("q_stream_warc", (s, dir) => {
      import streaming.StreamingIngest
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_warc")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      val inPath = inDir.toString
      warcFixture(s, dir).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(inPath, f"f${r.getLong(0)}%05d.warc"),
              r.getAs[Array[Byte]](1))
          }
      }
      import org.apache.spark.sql.types._
      val binSchema = StructType(Seq( // binaryFile's fixed schema
        StructField("path", StringType), StructField("modificationTime", TimestampType),
        StructField("length", LongType), StructField("content", BinaryType)))
      val stream = s.readStream.format("binaryFile").schema(binSchema)
        .load(s"$inPath/*.warc")
        .select(regexp_extract(col("path"), "f(\\d+)\\.warc", 1)
          .cast("long").as("media_id"), col("content"))
      val out = graft.operators.WarcCodec.records(stream).toDF()
      StreamingIngest.runAvailableNow(out,
        s"$tmp/out", s"$tmp/ckpt")
      s.read.parquet(s"$tmp/out")
        .select(col("media_id"),
          col("record_no").cast("long").as("record_no"),
          col("warc_type"), col("target_uri"), col("content_type"),
          col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("payload_bytes"), col("payload_text"))
        .orderBy(col("media_id"), col("record_no"))
    }, WarcOracle),

    // --- link-graph ranking (LinkRank.pagerank): the crawl-curation
    //     domain-rank signal as 3 exact integer PageRank iterations
    //     over a source graph derived from the corpus — each doc links
    //     its source to the source of its VARIABLE-block head
    //     (block size 2 + doc_id%5), which skews in-links toward
    //     sources of highly-divisible ids so the ranking actually
    //     differentiates. The oracle unrolls the identical iterations
    //     in SQL — integer `div` both sides ---------------------------
    Gate("q_link_rank", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val heads = docs.select(col("doc_id").as("head_id"),
        col("source").as("dst"))
      val edges = docs
        .withColumn("head_id", col("doc_id") -
          pmod(col("doc_id"), lit(2) + pmod(col("doc_id"), lit(5))))
        .join(heads, "head_id")
        .select(col("source").as("src"), col("dst"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=linkRank
          |op.linkRank.srcColumn=src
          |op.linkRank.dstColumn=dst
          |op.linkRank.iterations=3
          |""".stripMargin))
      ops.foldLeft(edges)((d, op) => op(d))
        .select(col("node").as("source"), col("rank"))
        .orderBy("source")
    }, {
      def iter(prev: String, out: String): String =
        s"""$out AS (SELECT n.node, 157286 + coalesce(m.mass, 0) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((17 * r.rank) // (20 * od.outdeg)) AS BIGINT) AS mass
           |    FROM e JOIN od ON od.src = e.src JOIN $prev r ON r.node = e.src
           |    GROUP BY 1) m ON m.node = n.node)""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT a.source AS src, b.source AS dst
         |  FROM documents a JOIN documents b
         |    ON b.doc_id = a.doc_id - a.doc_id % (2 + a.doc_id % 5)),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1048576 AS BIGINT) AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT node AS source, CAST(rank AS BIGINT) AS rank FROM r3
         |ORDER BY source""".stripMargin
    }),

    // --- crawl DISCOVERY chain (Robots.sitemapsTable +
    //     sitemapIndexEntries + sitemapEntries): robots.txt `Sitemap:`
    //     lines seed the per-domain index fetch (domains whose robots
    //     carry no Sitemap line never enter), the index resolves to
    //     child urlsets, the children explode to URLs — the 3-level
    //     path a crawler actually walks. Oracle replays all levels -----
    Gate("q_sitemap_discovery", (s, dir) => {
      import graft.functions.Text
      import graft.operators.Robots
      val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
      val srcs = docs.select(col("source")).distinct()
        .withColumn("i", substring(col("source"), 4, 10).cast("int"))
      val robots = srcs.select(
        concat(lit("www."), col("source"), lit(".example.com")).as("domain"),
        concat(
          lit("# crawl policy\nUser-agent: *\nDisallow: /private/\n" +
            "Crawl-delay: 2\n"),
          when(pmod(col("i"), lit(5)) =!= 0,
            concat(lit("Sitemap: https://www."), col("source"),
              lit(".example.com/sitemap_index.xml\n"))).otherwise(lit("")))
          .as("content"))
      val discovered = Robots.sitemapsTable(robots, "domain", "content")
      val (children, index) = sitemapWorld(docs)
      val indexed = index.withColumn("index_url",
        concat(lit("https://www."), col("source"),
          lit(".example.com/sitemap_index.xml")))
      val level1 = discovered
        .join(indexed, discovered("sitemap_url") === indexed("index_url"))
        .select(col("domain"),
          explode(Text.sitemapIndexEntries(col("index_xml"))).as("sm"))
        .select(col("domain"), col("sm.url").as("child_sitemap"))
      level1
        .join(children.select(col("child_url"), col("xml")),
          col("child_sitemap") === col("child_url"))
        .select(col("domain"), col("child_sitemap"),
          explode(Text.sitemapEntries(col("xml"))).as("e"))
        .select(col("domain"), col("child_sitemap"),
          col("e.url").as("url"), col("e.lastmod").as("lastmod"))
        .orderBy(col("domain"), col("url"))
    }, """
      WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 250),
      s AS (SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS i
            FROM d),
      urls AS (
        SELECT d.source, doc_id % 3 AS j,
          'https://www.' || d.source || '.example.com/p/' ||
            CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url,
          CASE WHEN doc_id % 5 <> 0
               THEN '2024-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-15'
               END AS lastmod
        FROM d JOIN s ON s.source = d.source AND s.i % 5 <> 0)
      SELECT 'www.' || source || '.example.com' AS domain,
        'https://www.' || source || '.example.com/sitemap' ||
          CAST(j AS VARCHAR) || '.xml' AS child_sitemap,
        url, lastmod
      FROM urls ORDER BY domain, url
    """),

    // --- URL canonicalization: deterministic variants (scheme/host
    //     case, default + explicit ports, missing paths, shuffled and
    //     tracking-polluted query strings, fragments) collapse to one
    //     canonical form per logical page; the dedup keys on it. The
    //     oracle rebuilds the SAME variants and replays every
    //     canonicalization rule in SQL --------------------------------
    Gate("q_url_canonical", (s, dir) => {
      import graft.functions.Text
      val k = col("doc_id")
      val url = concat(
        when(pmod(k, lit(2)) === 0, "HTTP").otherwise("https"), lit("://"),
        concat(lit("Ex"), pmod(k, lit(7)), lit(".CoM")),
        when(pmod(k, lit(3)) === 0,
            when(pmod(k, lit(2)) === 0, ":80").otherwise(":443"))
          .when(pmod(k, lit(3)) === 1,
            when(pmod(k, lit(2)) === 0, ":8080").otherwise(":8443"))
          .otherwise(""),
        when(pmod(k, lit(4)) === 0, "").otherwise(concat(lit("/P"), pmod(k, lit(5)))),
        when(pmod(k, lit(5)) === 0, "?b=2&a=1")
          .when(pmod(k, lit(5)) === 1, "?a=1&b=2")
          .when(pmod(k, lit(5)) === 2, "?utm_source=tw&a=1")
          .when(pmod(k, lit(5)) === 3, "?a=1&utm_campaign=x&")
          .otherwise(""),
        when(pmod(k, lit(2)) === 0, concat(lit("#sec"), pmod(k, lit(3)))).otherwise(""))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), Text.canonicalizeUrl(col("url")).as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical"))
    }, """
      WITH u AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
          'Ex' || CAST(doc_id % 7 AS VARCHAR) || '.CoM' ||
          (CASE WHEN doc_id % 3 = 0 THEN
                  (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
                WHEN doc_id % 3 = 1 THEN
                  (CASE WHEN doc_id % 2 = 0 THEN ':8080' ELSE ':8443' END)
                ELSE '' END) ||
          (CASE WHEN doc_id % 4 = 0 THEN ''
                ELSE '/P' || CAST(doc_id % 5 AS VARCHAR) END) ||
          (CASE doc_id % 5 WHEN 0 THEN '?b=2&a=1' WHEN 1 THEN '?a=1&b=2'
                WHEN 2 THEN '?utm_source=tw&a=1'
                WHEN 3 THEN '?a=1&utm_campaign=x&' ELSE '' END) ||
          (CASE WHEN doc_id % 2 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
                ELSE '' END) AS url
        FROM documents
      ),
      s1 AS (SELECT doc_id, string_split(url, '#')[1] AS nofrag FROM u),
      s2 AS (SELECT doc_id, nofrag, strpos(nofrag, '?') AS qp FROM s1),
      s3 AS (SELECT doc_id,
               CASE WHEN qp > 0 THEN substring(nofrag, 1, qp - 1)
                    ELSE nofrag END AS base,
               CASE WHEN qp > 0 THEN substring(nofrag, qp + 1) ELSE '' END AS qs
             FROM s2),
      s4 AS (SELECT doc_id, base, qs,
               regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1) AS sh
             FROM s3),
      s5 AS (SELECT doc_id, qs, sh, base,
               regexp_replace(
                 regexp_replace(lower(sh), '^(http://[^:]*):80$', '\1'),
                 '^(https://[^:]*):443$', '\1') AS ch,
               substring(base, length(sh) + 1) AS path
             FROM s4),
      s6 AS (SELECT doc_id,
               CASE WHEN sh = '' THEN base
                    ELSE ch || (CASE WHEN path = '' THEN '/' ELSE path END)
                    END AS cb,
               COALESCE(array_to_string(list_sort(list_filter(
                 string_split(qs, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)='))), '&'), '')
                 AS cq
             FROM s5)
      SELECT CASE WHEN cq = '' THEN cb ELSE cb || '?' || cq END AS canonical,
             COUNT(*) AS n_variants, MIN(doc_id) AS first_doc
      FROM s6 GROUP BY 1 ORDER BY 1
    """),

    // --- Nutch-Generator fetch-list selection: scored frontier (one
    //     URL per doc, host = source), per-host politeness cap 10,
    //     global top-150 via the GlobalOrder range exchange (NOT
    //     orderBy.limit), post-selection per-host fetch slots. The
    //     oracle replays both windows and the truncation ---------------
    Gate("q_fetch_list", (s, dir) => {
      val f = t(s, dir, "documents").select(
        concat(lit("http://"), col("source"), lit("/p"), col("doc_id")).as("url"),
        col("source").as("host"),
        pmod(col("doc_id") * 37, lit(1000)).as("score"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=canonicalizeUrl,fetchList
          |op.canonicalizeUrl.column=url
          |op.fetchList.urlColumn=url
          |op.fetchList.hostColumn=host
          |op.fetchList.scoreColumn=score
          |op.fetchList.topN=150
          |op.fetchList.maxPerHost=10
          |""".stripMargin))
      ops.foldLeft(f)((d, op) => op(d))
        .select(col("url"), col("host"), col("score"),
          col("sel_rank"), col("fetch_slot"))
        .orderBy(col("sel_rank"))
    }, """
      WITH f AS (
        SELECT 'http://' || source || '/p' || CAST(doc_id AS VARCHAR) AS url,
               source AS host, CAST(doc_id * 37 % 1000 AS BIGINT) AS score
        FROM documents),
      capped AS (
        SELECT *, row_number() OVER (PARTITION BY host
                                     ORDER BY score DESC, url) AS hr
        FROM f),
      sel AS (
        SELECT url, host, score,
               row_number() OVER (ORDER BY score DESC, url) AS sel_rank
        FROM capped WHERE hr <= 10)
      SELECT url, host, score, sel_rank,
             row_number() OVER (PARTITION BY host ORDER BY sel_rank) - 1
               AS fetch_slot
      FROM sel WHERE sel_rank <= 150
      ORDER BY sel_rank
    """),

    // --- LinkDb anchor-text aggregation over the corpus link graph
    //     (same head-block edge rule as q_link_rank; the anchor is the
    //     linking doc's first word): per target, total inlinks,
    //     distinct anchors, and the top-3 "anchor:count" string --------
    Gate("q_anchor_text", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val heads = docs.select(col("doc_id").as("head_id"),
        col("source").as("dst"))
      val links = docs
        .withColumn("head_id", col("doc_id") -
          pmod(col("doc_id"), lit(2) + pmod(col("doc_id"), lit(5))))
        .join(heads, "head_id")
        .select(col("dst"), split(col("text"), " ").getItem(0).as("anchor"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=anchorText
          |op.anchorText.dstColumn=dst
          |op.anchorText.anchorColumn=anchor
          |op.anchorText.k=3
          |""".stripMargin))
      ops.foldLeft(links)((d, op) => op(d)).orderBy(col("dst"))
    }, """
      WITH l AS (
        SELECT b.source AS dst, string_split(a.text, ' ')[1] AS anchor
        FROM documents a JOIN documents b
          ON b.doc_id = a.doc_id - a.doc_id % (2 + a.doc_id % 5)),
      c AS (
        SELECT dst, anchor, count(*) AS cnt FROM l
        WHERE anchor IS NOT NULL AND anchor <> '' GROUP BY 1, 2),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY dst
                                     ORDER BY cnt DESC, anchor) AS rk
        FROM c)
      SELECT dst, CAST(sum(cnt) AS BIGINT) AS n_links,
             count(*) AS n_anchors,
             string_agg(CASE WHEN rk <= 3 THEN anchor || ':' || cnt END,
                        '|' ORDER BY rk) AS top_anchors
      FROM r GROUP BY dst ORDER BY dst
    """),

    // --- FLAGSHIP crawl-plan chain: tracking-polluted discovered URLs
    //     (3 variants per doc) → canonicalize → URL-dedup (first doc
    //     wins) → scored frontier (score = winning doc's n_chars %
    //     1000) → politeness fetch list (top-100, ≤5/host). One oracle
    //     replays the whole chain ------------------------------------
    Gate("q_crawl_plan", (s, dir) => {
      import graft.functions.Text
      import graft.operators.CrawlFrontier
      val k = col("doc_id")
      val base = concat(lit("http://h"), pmod(k, lit(23)), lit(".com/d"), k)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val discovered = docs.select(col("doc_id"), col("n_chars"),
          explode(array(
            concat(base, lit("?utm_source=a")),
            concat(base, lit("?ref=2&utm_medium=b#frag")),
            concat(lit("HTTP://H"), pmod(k, lit(23)), lit(".COM:80/d"), k,
              lit("?ref=2")))).as("url"))
      val canon = discovered
        .select(col("doc_id"), col("n_chars"),
          Text.canonicalizeUrl(col("url")).as("url"))
        .groupBy(col("url"))
        .agg(min_by(struct(col("doc_id"), col("n_chars")), col("doc_id")).as("w"))
        .select(col("url"), col("w.doc_id").as("doc_id"),
          pmod(col("w.n_chars"), lit(1000)).as("score"),
          regexp_extract(col("url"), "^http://([^/]*)", 1).as("host"))
      CrawlFrontier.generateFetchList(canon, "url", "host", "score",
          topN = 100, maxPerHost = 5)
        .select(col("url"), col("host"), col("doc_id"), col("score"),
          col("sel_rank"), col("fetch_slot"))
        .orderBy(col("sel_rank"))
    }, """
      WITH u AS (
        SELECT doc_id, n_chars, unnest([
          'http://h' || (doc_id % 23) || '.com/d' || doc_id || '?utm_source=a',
          'http://h' || (doc_id % 23) || '.com/d' || doc_id ||
            '?ref=2&utm_medium=b#frag',
          'HTTP://H' || (doc_id % 23) || '.COM:80/d' || doc_id || '?ref=2']) AS url
        FROM documents),
      s1 AS (SELECT doc_id, n_chars, string_split(url, '#')[1] AS nofrag FROM u),
      s2 AS (SELECT *, strpos(nofrag, '?') AS qp FROM s1),
      s3 AS (SELECT doc_id, n_chars,
               CASE WHEN qp > 0 THEN substring(nofrag, 1, qp - 1)
                    ELSE nofrag END AS base,
               CASE WHEN qp > 0 THEN substring(nofrag, qp + 1) ELSE '' END AS qs
             FROM s2),
      s4 AS (SELECT *, regexp_extract(base,
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1) AS sh FROM s3),
      s5 AS (SELECT *, regexp_replace(regexp_replace(lower(sh),
               '^(http://[^:]*):80$', '\1'), '^(https://[^:]*):443$', '\1') AS ch,
               substring(base, length(sh) + 1) AS path FROM s4),
      s6 AS (SELECT doc_id, n_chars,
               CASE WHEN sh = '' THEN base
                    ELSE ch || (CASE WHEN path = '' THEN '/' ELSE path END)
                    END AS cb,
               COALESCE(array_to_string(list_sort(list_filter(
                 string_split(qs, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)='))), '&'), '') AS cq
             FROM s5),
      canon0 AS (SELECT doc_id, n_chars,
                   CASE WHEN cq = '' THEN cb ELSE cb || '?' || cq END AS url
                 FROM s6),
      canon AS (
        SELECT url,
               (min({'d': doc_id, 'n': n_chars})).d AS doc_id,
               (min({'d': doc_id, 'n': n_chars})).n % 1000 AS score,
               regexp_extract(url, '^http://([^/]*)', 1) AS host
        FROM canon0 GROUP BY url),
      capped AS (
        SELECT *, row_number() OVER (PARTITION BY host
                                     ORDER BY score DESC, url) AS hr
        FROM canon),
      sel AS (
        SELECT url, host, doc_id, score,
               row_number() OVER (ORDER BY score DESC, url) AS sel_rank
        FROM capped WHERE hr <= 5)
      SELECT url, host, doc_id, score, sel_rank,
             row_number() OVER (PARTITION BY host ORDER BY sel_rank) - 1
               AS fetch_slot
      FROM sel WHERE sel_rank <= 100
      ORDER BY sel_rank
    """),

    // --- outlink extraction (Text.outlinks): anchor hrefs with
    //     rel=nofollow detection across quote styles, attribute order,
    //     case, and multi-token rel values; nofollow must match as a
    //     whole TOKEN (rel="nofollowme" is follow); unquoted href/rel
    //     values parse; href-less anchors skipped. The link-graph
    //     feed (nofollow must not confer rank) -----------------------
    Gate("q_outlinks", (s, dir) => {
      import graft.functions.Text
      val k = col("doc_id")
      val html = concat(
        lit("<p>body</p><a href=\"http://t1/"), k, lit("\">a</a>"),
        lit("<a rel=\"nofollow\" href='http://t2/"), pmod(k, lit(7)),
        lit("'>b</a>"),
        lit("<A HREF=\"http://t3/"), pmod(k, lit(3)),
        lit("?x=1&amp;y=2\" REL=\"me nofollow\">c</A>"),
        lit("<a rel=\"nofollowme\" href=\"http://t4/"), pmod(k, lit(5)),
        lit("\">d</a>"),
        lit("<a href=http://t5/"), pmod(k, lit(11)),
        lit(" rel=nofollow>e</a>"),
        lit("<a rel=\"sponsored,nofollow\" href=\"http://t6/"),
        pmod(k, lit(2)), lit("\">f</a>"),
        lit("<a name=\"nohref\">skip</a>"),
        // hyphenated attrs must not alias: data-href is not an href
        // (anchor skipped), data-rel is not a rel (link stays follow)
        lit("<a data-href=\"http://bad/x\" name=\"g\">skip</a>"),
        lit("<a href=\"http://t7/"), pmod(k, lit(4)),
        lit("\" data-rel=\"nofollow\">h</a>"),
        // mixed quotes: a single-quoted value may CONTAIN a double
        // quote and must extract intact
        lit("<a href='http://t8/"), pmod(k, lit(9)), lit("\"q'>i</a>"))
      t(s, dir, "documents").select(col("doc_id"), html.as("html"))
        .select(col("doc_id"), explode(Text.outlinks(col("html"))).as("l"))
        .select(col("doc_id"), col("l.url").as("url"),
          col("l.nofollow").as("nofollow"))
        .orderBy(col("doc_id"), col("url"))
    }, """
      SELECT doc_id, url, nofollow FROM (
        SELECT doc_id, 'http://t1/' || CAST(doc_id AS VARCHAR) AS url,
               false AS nofollow FROM documents
        UNION ALL
        SELECT doc_id, 'http://t2/' || CAST(doc_id % 7 AS VARCHAR), true
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t3/' || CAST(doc_id % 3 AS VARCHAR) || '?x=1&y=2',
               true
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t4/' || CAST(doc_id % 5 AS VARCHAR), false
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t5/' || CAST(doc_id % 11 AS VARCHAR), true
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t6/' || CAST(doc_id % 2 AS VARCHAR), true
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t7/' || CAST(doc_id % 4 AS VARCHAR), false
        FROM documents
        UNION ALL
        SELECT doc_id, 'http://t8/' || CAST(doc_id % 9 AS VARCHAR) || '"q',
               false
        FROM documents)
      ORDER BY doc_id, url
    """),

    // --- two-level sitemap INDEX resolution (Text.sitemapIndexEntries
    //     + sitemapEntries): per source a <sitemapindex> of 3 child
    //     urlsets (docs split by doc_id%3, optional lastmod both
    //     levels); the index explodes, JOINS to the fetched children,
    //     and each child urlset explodes — the real shape of large
    //     sites' 50k-URL-capped sitemaps. Oracle rebuilds both levels --
    Gate("q_sitemap_index", (s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
      val (children, index) = sitemapWorld(docs)
      val level1 = index
        .select(col("source"),
          explode(Text.sitemapIndexEntries(col("index_xml"))).as("sm"))
        .select(col("source"), col("sm.url").as("sitemap_url"),
          col("sm.lastmod").as("sitemap_lastmod"))
      level1
        .join(children.select(col("child_url"), col("xml")),
          level1("sitemap_url") === col("child_url"))
        .select(col("source"), col("sitemap_url"), col("sitemap_lastmod"),
          explode(Text.sitemapEntries(col("xml"))).as("e"))
        .select(col("source"), col("sitemap_url"), col("sitemap_lastmod"),
          col("e.url").as("url"), col("e.lastmod").as("lastmod"))
        .orderBy(col("source"), col("url"))
    }, """
      WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 250),
      urls AS (
        SELECT source, doc_id % 3 AS j,
          'https://www.' || source || '.example.com/p/' ||
            CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url,
          CASE WHEN doc_id % 5 <> 0
               THEN '2024-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-15'
               END AS lastmod
        FROM d)
      SELECT source,
        'https://www.' || source || '.example.com/sitemap' ||
          CAST(j AS VARCHAR) || '.xml' AS sitemap_url,
        CASE WHEN j % 2 = 0 THEN '2024-1' || CAST(j AS VARCHAR) || '-01'
             END AS sitemap_lastmod,
        url, lastmod
      FROM urls ORDER BY source, url
    """),

    // --- RFC 9309 wildcard rules (Robots): `*` mid-pattern, trailing
    //     `$` end anchor, `$` elsewhere literal, %XX octets literal,
    //     most-specific-match by pattern OCTET count across prefix and
    //     wildcard rules, Allow on octet ties. The oracle rebuilds the
    //     rule table with the same anchored-regex translation and
    //     replays the max-by-octets resolution -------------------------
    Gate("q_robots_wildcards", (s, dir) => {
      import graft.operators.Robots
      val docs = t(s, dir, "documents")
      val srcs = docs.select(col("source")).distinct()
      val robots = srcs.select(
        concat(lit("www."), col("source"), lit(".example.com")).as("domain"),
        lit("""User-agent: *
              |Disallow: /pdf/*.pdf$
              |Allow: /pdf/open*.pdf$
              |Disallow: /a/*/b
              |Disallow: /li$t
              |Disallow: /%2F
              |Disallow: /dir/*
              |Allow: /dir/a
              |""".stripMargin).as("content"))
      val urls = docs.select(col("doc_id"), col("source"),
        concat(lit("https://www."), col("source"), lit(".example.com"),
          expr("""CASE CAST(doc_id % 8 AS INT)
                 |  WHEN 0 THEN '/pdf/doc' || doc_id || '.pdf'
                 |  WHEN 1 THEN '/pdf/doc' || doc_id || '.pdfx'
                 |  WHEN 2 THEN '/pdf/open' || doc_id || '.pdf'
                 |  WHEN 3 THEN '/a/' || doc_id || '/b'
                 |  WHEN 4 THEN '/a/' || doc_id || '/c'
                 |  WHEN 5 THEN '/li$t' || doc_id
                 |  WHEN 6 THEN '/%2Fx' || doc_id
                 |  ELSE '/dir/a' || doc_id END""".stripMargin)).as("url"))
      Robots.filterAllowed(urls,
          "url", Robots.rulesTable(robots, "domain", "content"), "GraftBot")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (SELECT DISTINCT source FROM documents),
        |rules AS (
        |  SELECT source, FALSE AS allow, '/pdf/*.pdf$' AS path,
        |         '^/pdf/.*\.pdf$' AS rx FROM s
        |  UNION ALL SELECT source, TRUE, '/pdf/open*.pdf$',
        |         '^/pdf/open.*\.pdf$' FROM s
        |  UNION ALL SELECT source, FALSE, '/a/*/b', '^/a/.*/b' FROM s
        |  UNION ALL SELECT source, FALSE, '/li$t', NULL FROM s
        |  UNION ALL SELECT source, FALSE, '/%2F', NULL FROM s
        |  UNION ALL SELECT source, FALSE, '/dir/*', '^/dir/.*' FROM s
        |  UNION ALL SELECT source, TRUE, '/dir/a', NULL FROM s),
        |u AS (
        |  SELECT doc_id, source,
        |    CASE doc_id % 8
        |      WHEN 0 THEN '/pdf/doc' || doc_id || '.pdf'
        |      WHEN 1 THEN '/pdf/doc' || doc_id || '.pdfx'
        |      WHEN 2 THEN '/pdf/open' || doc_id || '.pdf'
        |      WHEN 3 THEN '/a/' || doc_id || '/b'
        |      WHEN 4 THEN '/a/' || doc_id || '/c'
        |      WHEN 5 THEN '/li$t' || doc_id
        |      WHEN 6 THEN '/%2Fx' || doc_id
        |      ELSE '/dir/a' || doc_id END AS p
        |  FROM documents),
        |m AS (
        |  SELECT u.doc_id, u.source, u.p,
        |    (max({'l': octet_length(encode(a.path)), 'a': a.allow})).a AS verdict,
        |    count(a.path) AS nm
        |  FROM u LEFT JOIN rules a
        |    ON a.source = u.source AND
        |       CASE WHEN a.rx IS NULL THEN starts_with(u.p, a.path)
        |            ELSE regexp_matches(u.p, a.rx) END
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  'https://www.' || source || '.example.com' || p AS url
        |FROM m WHERE nm = 0 OR verdict ORDER BY doc_id""".stripMargin),

    // --- INCREMENTAL PageRank (LinkRank.pagerankFrom): epoch 1 cold-
    //     starts on the first crawl slice and commits the rank vector
    //     into a ShardedTable manifest; epoch 2 warm-starts 2
    //     iterations off the committed vector over the GROWN graph
    //     (new nodes join at cold mass Q). The saving at 10^10 edges
    //     is iterations, not writes. The oracle unrolls both epochs:
    //     3 cold iterations on the slice graph, then 2 warm ones on
    //     the full graph seeded by the first result ---------------------
    Gate("q_link_rank_warm", (s, dir) => {
      import graft.operators.LinkRank
      import graft.sink.ShardedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      def graph(d: DataFrame): DataFrame = {
        val heads = d.select(col("doc_id").as("head_id"),
          col("source").as("dst"))
        d.withColumn("head_id", col("doc_id") -
            pmod(col("doc_id"), lit(2) + pmod(col("doc_id"), lit(5))))
          .join(heads, "head_id")
          .select(col("source").as("src"), col("dst"))
      }
      val tmp = java.nio.file.Files.createTempDirectory("q_link_rank_warm")
      val table = new ShardedTable(s"$tmp/ranks", "shard",
        s.sparkContext.hadoopConfiguration)
      val shards = (0 until 8).map(_.toString)
      def sharded(r: DataFrame): DataFrame = r.withColumn("shard",
        pmod(crc32(col("node").cast("string")), lit(8)).cast("int"))
      val r1 = LinkRank.pagerank(
        graph(docs.filter(col("doc_id") < 300)), "src", "dst", 3)
      table.commit(sharded(r1), shards, Map("epoch" -> "1"))
      val prev = table.readCurrent(s).select("node", "rank")
      val r2 = LinkRank.pagerankFrom(graph(docs), "src", "dst", prev, 2)
      table.commit(sharded(r2), shards, Map("epoch" -> "2"))
      table.readCurrent(s)
        .select(col("node").as("source"), col("rank"))
        .orderBy("source")
    }, {
      def iter(prev: String, out: String, e: String, od: String,
          nodes: String): String =
        s"""$out AS (SELECT n.node, 157286 + coalesce(m.mass, 0) AS rank
           |  FROM $nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((17 * r.rank) // (20 * od.outdeg)) AS BIGINT) AS mass
           |    FROM $e e JOIN $od od ON od.src = e.src
           |      JOIN $prev r ON r.node = e.src
           |    GROUP BY 1) m ON m.node = n.node)""".stripMargin
      s"""WITH d1 AS (SELECT doc_id, source FROM documents WHERE doc_id < 300),
         |e1 AS (SELECT DISTINCT a.source AS src, b.source AS dst
         |  FROM d1 a JOIN d1 b
         |    ON b.doc_id = a.doc_id - a.doc_id % (2 + a.doc_id % 5)),
         |nodes1 AS (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),
         |od1 AS (SELECT src, count(*) AS outdeg FROM e1 GROUP BY 1),
         |r0 AS (SELECT node, CAST(1048576 AS BIGINT) AS rank FROM nodes1),
         |${iter("r0", "r1", "e1", "od1", "nodes1")},
         |${iter("r1", "r2", "e1", "od1", "nodes1")},
         |${iter("r2", "r3", "e1", "od1", "nodes1")},
         |e2 AS (SELECT DISTINCT a.source AS src, b.source AS dst
         |  FROM documents a JOIN documents b
         |    ON b.doc_id = a.doc_id - a.doc_id % (2 + a.doc_id % 5)),
         |nodes2 AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
         |od2 AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY 1),
         |w0 AS (SELECT n.node, coalesce(r.rank, CAST(1048576 AS BIGINT)) AS rank
         |  FROM nodes2 n LEFT JOIN r3 r ON r.node = n.node),
         |${iter("w0", "w1", "e2", "od2", "nodes2")},
         |${iter("w1", "w2", "e2", "od2", "nodes2")}
         |SELECT node AS source, CAST(rank AS BIGINT) AS rank FROM w2
         |ORDER BY source""".stripMargin
    }),

    // --- full sitemap entries (Text.sitemapEntries): per-<url> block
    //     loc + OPTIONAL lastmod/priority (the recrawl-scheduling
    //     inputs), entity-decoded; presence varies per doc so the
    //     NULL paths run. Oracle rebuilds every field ------------------
    Gate("q_sitemap_entries", (s, dir) => {
      import graft.functions.Text
      val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
      val sitemaps = docs.groupBy(col("source"))
        .agg(concat(
          lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          concat_ws("\n", sort_array(collect_list(concat(
            lit("  <url><loc> https://www."), col("source"),
            lit(".example.com/p/"), col("doc_id"), lit("?a=1&amp;b=2 </loc>"),
            when(pmod(col("doc_id"), lit(3)) =!= 0,
              concat(lit("<lastmod>2024-0"), lit(1) + pmod(col("doc_id"), lit(9)),
                lit("-15</lastmod>"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(4)) =!= 0,
              concat(lit("<priority>0."), pmod(col("doc_id"), lit(10)),
                lit("</priority>"))).otherwise(lit("")),
            lit("</url>"))))),
          lit("\n</urlset>")).as("xml"))
      sitemaps.select(col("source"),
          explode(Text.sitemapEntries(col("xml"))).as("e"))
        .select(col("source"), col("e.url").as("url"),
          col("e.lastmod").as("lastmod"), col("e.priority").as("priority"))
        .orderBy(col("source"), col("url"))
    }, """
      SELECT source,
             'https://www.' || source || '.example.com/p/' ||
               CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url,
             CASE WHEN doc_id % 3 <> 0
                  THEN '2024-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-15'
                  END AS lastmod,
             CASE WHEN doc_id % 4 <> 0
                  THEN CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE)
                  END AS priority
      FROM documents WHERE doc_id < 250
      ORDER BY source, url
    """),

    // --- crawl-delay-aware fetch schedule: the q_fetch_list frontier
    //     joined against robots Crawl-delay directives (every domain
    //     declares a '*' delay; even-numbered domains add a stricter
    //     graftbot-specific one that must WIN for crawler GraftBot);
    //     fetch_at = fetch_slot * delay ------------------------------
    Gate("q_fetch_schedule", (s, dir) => {
      import graft.operators.{CrawlFrontier, Robots}
      val f = t(s, dir, "documents").select(
        concat(lit("http://"), col("source"), lit("/p"), col("doc_id")).as("url"),
        col("source").as("host"),
        pmod(col("doc_id") * 37, lit(1000)).as("score"))
      val srcs = f.select(col("host")).distinct()
        .withColumn("i", substring(col("host"), 4, 10).cast("int"))
      val robots = srcs.select(col("host").as("domain"),
        concat(
          lit("# politeness\nUser-agent: *\nCrawl-delay: "),
          (lit(1) + pmod(col("i"), lit(5))).cast("string"),
          when(pmod(col("i"), lit(2)) === 0,
            concat(lit("\nUser-agent: graftbot\nCrawl-delay: "),
              (lit(1) + pmod(col("i"), lit(3)) * 2).cast("string")))
            .otherwise(lit(""))).as("content"))
      val selected = CrawlFrontier.generateFetchList(f, "url", "host", "score",
        topN = 150, maxPerHost = 10)
      CrawlFrontier.scheduleFetch(selected, "host",
          Robots.delaysTable(robots, "domain", "content"), "GraftBot",
          defaultDelaySec = 30)
        .select(col("url"), col("host"), col("score"),
          col("sel_rank"), col("fetch_slot"), col("fetch_at"))
        .orderBy(col("sel_rank"))
    }, """
      WITH f AS (
        SELECT 'http://' || source || '/p' || CAST(doc_id AS VARCHAR) AS url,
               source AS host, CAST(doc_id * 37 % 1000 AS BIGINT) AS score
        FROM documents),
      capped AS (
        SELECT *, row_number() OVER (PARTITION BY host
                                     ORDER BY score DESC, url) AS hr
        FROM f),
      sel AS (
        SELECT url, host, score,
               row_number() OVER (ORDER BY score DESC, url) AS sel_rank
        FROM capped WHERE hr <= 10),
      slotted AS (
        SELECT url, host, score, sel_rank,
               row_number() OVER (PARTITION BY host ORDER BY sel_rank) - 1
                 AS fetch_slot
        FROM sel WHERE sel_rank <= 150),
      delays AS (
        SELECT host,
               CAST(CASE WHEN i % 2 = 0 THEN 1 + (i % 3) * 2
                         ELSE 1 + i % 5 END AS BIGINT) AS delay_sec
        FROM (SELECT DISTINCT host,
                CAST(substring(host, 4) AS INT) AS i FROM f))
      SELECT s.url, s.host, s.score, s.sel_rank, s.fetch_slot,
             s.fetch_slot * d.delay_sec AS fetch_at
      FROM slotted s JOIN delays d ON d.host = s.host
      ORDER BY s.sel_rank
    """),

    // --- redirect-chain resolution: a functional redirect graph over
    //     the corpus (u_k → u_{k-1} except k%50==1 flips forward,
    //     planting 2-cycles and their feeders; multiples of 7 are
    //     terminals) resolved by pointer DOUBLING to (terminal, exact
    //     hops, resolved); loops and >8-hop chains come back NULL +
    //     unresolved. The oracle walks the same graph step-by-step in
    //     a recursive CTE -------------------------------------------
    Gate("q_resolve_redirects", (s, dir) => {
      val e = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(concat(lit("u"), col("doc_id")).as("src"),
          concat(lit("u"),
            when(pmod(col("doc_id"), lit(50)) === 1, col("doc_id") + 1)
              .otherwise(col("doc_id") - 1)).as("dst"))
      val ops = graft.runner.JobConfig.buildOps(graft.runner.JobConfig.parse(
        """ops=resolveRedirects
          |op.resolveRedirects.srcColumn=src
          |op.resolveRedirects.dstColumn=dst
          |op.resolveRedirects.maxHops=8
          |""".stripMargin))
      ops.foldLeft(e)((d, op) => op(d)).orderBy(col("src"))
    }, """
      WITH RECURSIVE e AS (
        SELECT 'u' || doc_id AS src,
               'u' || (CASE WHEN doc_id % 50 = 1 THEN doc_id + 1
                            ELSE doc_id - 1 END) AS dst
        FROM documents WHERE doc_id % 7 <> 0),
      walk AS (
        SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
        UNION ALL
        SELECT w.src, e.dst, w.hops + 1
        FROM walk w JOIN e ON e.src = w.cur
        WHERE w.hops < 8),
      term AS (
        SELECT w.src, w.cur AS target, w.hops
        FROM walk w LEFT JOIN e t ON t.src = w.cur
        WHERE t.src IS NULL)
      SELECT e.src, t.target, t.hops, t.src IS NOT NULL AS resolved
      FROM e LEFT JOIN term t ON t.src = e.src
      ORDER BY e.src
    """),

    // --- incremental frontier maintenance (job.type=frontier): two
    //     watermark epochs of tracking-polluted discoveries (every doc
    //     discovers its head-block URL, decorated with a per-discoverer
    //     utm param + fragment) canonicalize and merge MERGEABLY
    //     (first-seen seq, best score, discovery count) into a
    //     canonical-hash-sharded versioned frontier; epoch 3 is a
    //     no-op. Oracle = the full recompute over all discoveries ----
    Gate("q_frontier_job", (s, dir) => {
      import graft.runner.JobConfig
      val disc = t(s, dir, "documents")
        .select(col("doc_id").as("seq"),
          (col("doc_id") - pmod(col("doc_id"), lit(5))).as("target"),
          pmod(col("n_chars"), lit(997)).as("score"))
        .withColumn("url", concat(
          lit("http://h"), pmod(col("target"), lit(13)),
          lit(".net/u"), col("target"),
          lit("?utm_campaign=c"), pmod(col("seq"), lit(3)),
          lit("#f"), pmod(col("seq"), lit(2))))
        .select(col("seq"), col("url"), col("score"))
      val maxSeq = disc.agg(max("seq")).head.getLong(0)
      val split = maxSeq / 2
      val tmp = java.nio.file.Files.createTempDirectory("q_frontier").toString
      val props = JobConfig.parse(
        s"""job.type=frontier
           |job.name=frontier_gate
           |source.path=$tmp/src
           |frontier.url=url
           |frontier.score=score
           |frontier.seq=seq
           |frontier.shards=16
           |sink.output=$tmp/front
           |state.dir=$tmp/wm
           |""".stripMargin)
      disc.filter(col("seq") <= split).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      disc.filter(col("seq") > split).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == maxSeq.toString,
        s"epoch 2 failed: $r2")
      require(r2("touchedPartitions").toInt <= 16, s"touched blew the shards: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false", s"empty epoch must be a no-op: $r3")
      new graft.sink.ShardedTable(s"$tmp/front", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s).drop("shard")
        .select(col("url"), col("first_seq"), col("score"), col("n_seen"))
        .orderBy(col("url"))
    }, """
      WITH disc AS (
        SELECT doc_id AS seq, doc_id - doc_id % 5 AS target,
               n_chars % 997 AS score
        FROM documents),
      urls AS (
        SELECT seq, score,
               'http://h' || (target % 13) || '.net/u' || target AS url
        FROM disc)
      SELECT url, CAST(min(seq) AS BIGINT) AS first_seq,
             CAST(max(score) AS BIGINT) AS score,
             count(*) AS n_seen
      FROM urls GROUP BY url ORDER BY url
    """),

    // --- crawl chain with MIXED payloads: WARC files carry HTML for
    //     even docs and real PDFs for odd docs; the pipeline sniffs
    //     each payload's magic bytes (never trusting Content-Type),
    //     routes PDFs through PdfText and HTML through stripHtml, and
    //     the shared token stats come out identical either way. The
    //     oracle replays both branches from the source column --------
    Gate("q_crawl_pdf", (s, dir) => {
      import s.implicits._
      import graft.functions.Text
      import graft.operators.{Multimodal, PdfText, PdfWriter, WarcCodec}
      val files = t(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .as[(Long, String)]
        .groupByKey(_._1 / 5)
        .mapGroups { (fid, docs) =>
          val pages = docs.toSeq.sortBy(_._1).map { case (id, txt) =>
            val payload =
              if (id % 2 == 0)
                s"<html>$txt</html>".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)
              else PdfWriter.write(id,
                PdfWriter.layout(txt, perLine = 8, linesPerPage = 6),
                (id % 3).toInt)
            (s"https://example.com/doc/$id", payload)
          }
          (fid, WarcCodec.writeResponses(pages, gzipPerRecord = fid % 2 == 1))
        }
        .toDF("media_id", "content")
      val recs = WarcCodec.binaryRecords(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("payload"))
      val dispatched = recs.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, p) =>
          Multimodal.sniffModality(p) match {
            case "application/pdf" =>
              (id, "application/pdf",
                PdfText.extract(id, p).text.replace('\n', ' '))
            case _ =>
              (id, "text/html",
                new String(p, java.nio.charset.StandardCharsets.UTF_8))
          }
        }).toDF("doc_id", "modality", "raw")
      dispatched
        .select(col("doc_id"), col("modality"),
          when(col("modality") === "text/html",
            Text.stripHtml(col("raw"))).otherwise(col("raw")).as("clean"))
        .select(col("doc_id"), col("modality"),
          Text.tokenCount(col("clean")).cast("long").as("n_tokens"),
          length(col("clean")).cast("long").as("clean_chars"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 250)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/html'
        |       ELSE 'application/pdf' END AS modality,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(t) AS BIGINT) AS clean_chars
        |FROM d ORDER BY doc_id""".stripMargin),

    // --- HTML page metadata (crawl tier): <title> text and OpenGraph
    //     og:title / og:description in BOTH attribute orders, via
    //     codegen'd RE2-safe regexp columns — titles/descriptions are
    //     the page-ranking signals curation uses before any body-text
    //     stage. Planted HTML replayed by the oracle ------------------
    Gate("q_html_meta", (s, dir) => {
      import graft.functions.Text
      val d = t(s, dir, "documents").filter(col("doc_id") < 400)
      val html = concat(
        lit("<html><head><title> Doc "), col("doc_id"),
        lit(" \n of "), col("source"), lit("</title>"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("<meta property=\"og:title\" content=\""),
            col("source"), lit(" page\"/>")))
          .otherwise(concat(lit("<meta content='"), col("source"),
            lit(" page' property='og:title'/>"))),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("<meta property=\"og:description\" content=\""),
            substring(col("text"), 1, 40), lit("\"/>")))
          .otherwise(lit("")),
        lit("</head><body>"), col("text"), lit("</body></html>"))
      d.select(col("doc_id"),
        Text.htmlTitle(html).as("title"),
        Text.htmlMetaContent(html, "og:title").as("og_title"),
        Text.htmlMetaContent(html, "og:description").as("og_desc"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' of ' || source AS title,
        |  source || ' page' AS og_title,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN trim(regexp_replace(substring(coalesce(text, ''), 1, 40),
        |      '\s+', ' ', 'g'))
        |    ELSE '' END AS og_desc
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin),

    // --- Content-Encoding crawl ingest (BrotliCodec + WarcCodec):
    //     WARC response records whose HTTP bodies rotate br / gzip /
    //     identity / deflate — br bodies are COMMITTED libbrotli
    //     fixtures (quality 1..11, tools/brotli_probe.py) over
    //     generator-deterministic lines; gzip/deflate bodies are
    //     JDK-encoded from the same formula in-gate. The parse side
    //     decodes transparently per the header; the oracle rebuilds
    //     every line analytically ----------------------------------
    Gate("q_brotli_ingest", (s, dir) => {
      import s.implicits._
      import graft.operators.WarcCodec
      def line(k: Int, i: Int): String = {
        val words = (0 until (4 + i % 5))
          .map(j => s"b${(k * 37 + i * 19 + j * 11) % 89}").mkString(" ")
        s"page${k * 100 + i} $words\n"
      }
      def content(k: Int): Array[Byte] =
        (0 until (15 + 3 * k)).map(i => line(k, i)).mkString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val files = (0 until 6).toDF("file_id")
        .as[Int]
        .mapPartitions(_.map { f =>
          val pages = (f * 4 until f * 4 + 4).map { k =>
            val (wire, enc) =
              if (k < 8) {
                val in = getClass.getResourceAsStream(s"/graft/brotli/fixture_$k.br")
                require(in != null, s"missing brotli fixture $k")
                (try in.readAllBytes() finally in.close(), "br")
              } else if (k < 16) {
                val bo = new java.io.ByteArrayOutputStream()
                val g = new java.util.zip.GZIPOutputStream(bo)
                g.write(content(k)); g.close()
                (bo.toByteArray, "gzip")
              } else if (k < 20) (content(k), "identity")
              else {
                val d = new java.util.zip.Deflater()
                d.setInput(content(k)); d.finish()
                val bo = new java.io.ByteArrayOutputStream()
                val buf = new Array[Byte](8192)
                while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
                d.end()
                (bo.toByteArray, "deflate")
              }
            (s"https://x.example/p/$k", wire, enc)
          }
          (f.toLong, WarcCodec.writeResponsesEncoded(pages))
        })
        .toDF("media_id", "content")
      WarcCodec.records(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "/p/(\\d+)$", 1)
            .cast("long").as("k"),
          col("payload_text"))
        .as[(Long, String)]
        .flatMap { case (k, text) =>
          text.split("\n", -1).iterator.filter(_.nonEmpty)
            .zipWithIndex.map { case (l, i) => (k, i.toLong, l) }
        }
        .toDF("k", "line_no", "line")
        .orderBy(col("k"), col("line_no"))
    },
      """WITH f AS (SELECT unnest(range(0, 24)) AS k),
        |l AS (SELECT k, unnest(range(0, 15 + 3 * k)) AS i FROM f),
        |w AS (SELECT k, i, unnest(range(0, 4 + (i % 5))) AS j FROM l),
        |words AS (
        |  SELECT k, i,
        |    string_agg('b' || CAST((k * 37 + i * 19 + j * 11) % 89
        |      AS VARCHAR), ' ' ORDER BY j) AS ws
        |  FROM w GROUP BY k, i)
        |SELECT k, i AS line_no,
        |  'page' || CAST(k * 100 + i AS VARCHAR) || ' ' || ws AS line
        |FROM words ORDER BY k, line_no""".stripMargin),

    // --- CDX(J) index fetch planning (CdxIndex): the 100-TB crawl
    //     consumer's workflow — resolve target URLs through the
    //     per-crawl index (render -> parse round-trips the CDXJ line
    //     format in-gate) via SURT keys (case/port/param-order
    //     variants collapse), then coalesce per-file byte ranges
    //     under the gap bound with a windowed gaps-and-islands pass.
    //     The oracle replays SURT matching and the island arithmetic -
    Gate("q_cdx_plan", (s, dir) => {
      import graft.operators.CdxIndex
      val docs = t(s, dir, "documents").select(col("doc_id"))
      // hosts alternate www./www2. (both stripped, pywb-style) and
      // every 5th URL sits on a non-default :8080 port (KEPT in the
      // urlkey) — the wanted side must canonicalize to the same keys
      val wwwPfx = when(pmod(col("doc_id"), lit(2)) === 0,
        lit("https://www2.Ex")).otherwise(lit("https://www.Ex"))
      val portSeg = when(pmod(col("doc_id"), lit(5)) === 0,
        lit(".COM:8080/p")).otherwise(lit(".COM/p"))
      val url = concat(wwwPfx, pmod(col("doc_id"), lit(7)),
        portSeg, pmod(col("doc_id"), lit(5)),
        lit("?a="), col("doc_id"), lit("&z=9&m=1"))
      val index = docs.select(
        CdxIndex.surt(url).as("urlkey"),
        lit("20260815000000").as("ts"),
        url.as("url"),
        lit(200).as("status"), lit("text/html").as("mime"),
        concat(lit("sha1:"), md5(col("doc_id").cast("string"))).as("digest"),
        concat(lit("crawl-"), pmod(col("doc_id"), lit(4)),
          lit(".warc.gz")).as("filename"),
        (col("doc_id") * 120).as("offset"),
        (lit(100) + pmod(col("doc_id"), lit(7)) * 250).as("length"))
      // wire-format round-trip: render to CDXJ lines, parse back
      val parsed = CdxIndex.parseCdxj(CdxIndex.renderCdxj(index))
      // wanted URLs arrive in a DIFFERENT surface form (scheme/host
      // case, explicit default port, shuffled params, no www)
      val wantedPort = when(pmod(col("doc_id"), lit(5)) === 0,
        lit(".COM:8080/p")).otherwise(lit(".COM:80/p"))
      val wanted = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(concat(lit("HTTP://EX"), pmod(col("doc_id"), lit(7)),
          wantedPort, pmod(col("doc_id"), lit(5)),
          lit("?z=9&a="), col("doc_id"), lit("&m=1")).as("url"))
      CdxIndex.planFetch(parsed, wanted, "url", maxGap = 600)
        .orderBy(col("filename"), col("range_start"))
    },
      """WITH sel AS (
        |  SELECT doc_id,
        |    'crawl-' || CAST(doc_id % 4 AS VARCHAR) || '.warc.gz' AS filename,
        |    doc_id * 120 AS off, 100 + (doc_id % 7) * 250 AS len
        |  FROM documents WHERE doc_id % 3 = 0),
        |w AS (
        |  SELECT filename, off, len,
        |    MAX(off + len) OVER (PARTITION BY filename ORDER BY off
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM sel),
        |f AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR off > prev_end + 600
        |                 THEN 1 ELSE 0 END AS ni
        |  FROM w),
        |i AS (
        |  SELECT *, SUM(ni) OVER (PARTITION BY filename ORDER BY off)
        |    AS island
        |  FROM f)
        |SELECT filename, MIN(off) AS range_start,
        |  MAX(off + len) AS range_end,
        |  MAX(off + len) - MIN(off) AS range_bytes,
        |  COUNT(*) AS n_records
        |FROM i GROUP BY filename, island
        |ORDER BY filename, range_start""".stripMargin),

    // --- Digest-dedup fetch planning (CdxIndex.dedupByDigest): many
    //     URLs share identical bodies (the index's digest column
    //     exists for this); fetch each digest ONCE — deterministic
    //     winner by (filename, offset) — then coalesce ranges. The
    //     oracle replays the row_number winner and island arithmetic -
    Gate("q_cdx_dedup_plan", (s, dir) => {
      import graft.operators.CdxIndex
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val url = concat(lit("https://ex"), pmod(col("doc_id"), lit(7)),
        lit(".com/q"), col("doc_id"))
      val index = docs.select(
        CdxIndex.surt(url).as("urlkey"),
        lit("20260815000000").as("ts"), url.as("url"),
        lit(200).as("status"), lit("text/html").as("mime"),
        md5(pmod(col("doc_id"), lit(50)).cast("string")).as("digest"),
        concat(lit("crawl-"), pmod(col("doc_id"), lit(4)),
          lit(".warc.gz")).as("filename"),
        (col("doc_id") * 120).as("offset"),
        (lit(100) + pmod(col("doc_id"), lit(7)) * 250).as("length"))
      val deduped = CdxIndex.dedupByDigest(index)
      val wanted = docs.select(
        concat(lit("https://ex"), pmod(col("doc_id"), lit(7)),
          lit(".com/q"), col("doc_id")).as("url"))
      CdxIndex.planFetch(deduped, wanted, "url", maxGap = 150)
        .orderBy(col("filename"), col("range_start"))
    },
      """WITH idx AS (
        |  SELECT doc_id,
        |    'crawl-' || CAST(doc_id % 4 AS VARCHAR) || '.warc.gz' AS filename,
        |    doc_id * 120 AS off, 100 + (doc_id % 7) * 250 AS len,
        |    md5(CAST(doc_id % 50 AS VARCHAR)) AS digest
        |  FROM documents),
        |win AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY digest
        |    ORDER BY filename, off) AS rn FROM idx),
        |sel AS (SELECT filename, off, len FROM win WHERE rn = 1),
        |w AS (
        |  SELECT filename, off, len,
        |    MAX(off + len) OVER (PARTITION BY filename ORDER BY off
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM sel),
        |f AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR off > prev_end + 150
        |                 THEN 1 ELSE 0 END AS ni FROM w),
        |i AS (
        |  SELECT *, SUM(ni) OVER (PARTITION BY filename ORDER BY off)
        |    AS island FROM f)
        |SELECT filename, MIN(off) AS range_start,
        |  MAX(off + len) AS range_end,
        |  MAX(off + len) - MIN(off) AS range_bytes,
        |  COUNT(*) AS n_records
        |FROM i GROUP BY filename, island
        |ORDER BY filename, range_start""".stripMargin),

    // --- page-level robots directives (Text.robotsMeta): meta robots
    //     in either attribute order and quote style, `none`/`all`
    //     semantics, X-Robots-Tag union — the indexing-consent checks
    //     a curation pipeline must run on FETCHED pages (robots.txt
    //     is only half the contract). Oracle replays the variants ----
    Gate("q_robots_meta", (s, dir) => {
      import graft.functions.Text
      val k = pmod(col("doc_id"), lit(6))
      val html = concat(lit("<html><head>"),
        when(k === 0, "<meta name=\"robots\" content=\"noindex, nofollow\">")
          .when(k === 1, "<meta content=nofollow name=robots>")
          .when(k === 2, "<meta name=robots content=none>")
          .when(k === 3, "<meta name=\"robots\" content=\"all\">")
          .otherwise(""),
        lit("<title>t</title></head><body>x</body></html>"))
      val header = when(k === 4, "noindex").otherwise(lit(null))
      t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          Text.robotsMeta(html, header).as("r"))
        .select(col("doc_id"),
          col("r.noindex").as("noindex"), col("r.nofollow").as("nofollow"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  (doc_id % 6) IN (0, 2, 4) AS noindex,
        |  (doc_id % 6) IN (0, 1, 2) AS nofollow
        |FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin),

    // --- WHATWG charset sniff in the WARC chain (CharsetSniff): nine
    //     page shapes per doc — meta charset (quoted + unquoted),
    //     http-equiv, a latin1 header label that must resolve to
    //     windows-1252 (euro at 0x80), a BOM overriding a WRONG
    //     header, an undeclared cp1252 fallback, a commented-out
    //     decoy meta, plus the ATTRIBUTE-LEVEL decoys only a real
    //     prescan tokenizer survives: `charset=` inside an unrelated
    //     meta's content VALUE (no pragma -> ignored), a
    //     `data-charset` attribute NAME, a quoted `>` inside an
    //     earlier tag's attribute, and a pragma meta with its
    //     content= BEFORE http-equiv= — each round-tripped through a
    //     real WARC response record; the oracle replays the expected
    //     charset and the exact decoded text -------------------------
    Gate("q_charset_sniff", (s, dir) => {
      import s.implicits._
      import graft.operators.{CharsetSniff, WarcCodec}
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val k = (d % 9).toInt
          val (bodyBytes, ct) = k match {
            case 0 => (("<!-- <meta charset=\"koi8-r\"> -->" +
              s"<meta charset=\"utf-8\"><p>naïve café №$d</p>")
              .getBytes("UTF-8"), "text/html")
            case 1 => (s"<p>euro €$d</p>".getBytes("windows-1252"),
              "text/html; charset=iso-8859-1")
            case 2 => (("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=shift_jis\">" +
              s"<p>テスト$d</p>").getBytes("Shift_JIS"), "text/html")
            case 3 => (s"<meta charset=windows-1251><p>Привет$d</p>"
              .getBytes("windows-1251"), "text/html")
            case 4 => (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++
              s"<p>bom wins ☃$d</p>".getBytes("UTF-8"),
              "text/html; charset=shift_jis")
            case 5 => (s"<p>fall™back$d</p>".getBytes("windows-1252"),
              "text/html")
            case 6 => (("<meta name=\"description\" " +
              "content=\"see charset=koi8-r docs\">" +
              s"<meta charset=\"utf-8\"><p>naïve №$d</p>")
              .getBytes("UTF-8"), "text/html")
            case 7 => (("<meta data-charset=\"koi8-r\" name=\"x\">" +
              s"<meta charset='greek'><p>αβγ$d</p>")
              .getBytes("ISO-8859-7"), "text/html")
            case _ => (("<img alt=\"a > charset=big5\" src=i>" +
              "<meta content=\"text/html; charset=ibm866\" " +
              s"http-equiv=\"content-type\"><p>Тест$d</p>")
              .getBytes("IBM866"), "text/html")
          }
          val warc = WarcCodec.writeResponsesWithContentType(
            Seq((s"https://ex.com/$d", bodyBytes, ct)))
          val rec = WarcCodec.parse(d, warc).head
          val txt = new String(rec.payload,
            CharsetSniff.javaCharset(rec.httpCharset)).stripPrefix("\uFEFF")
          (d, rec.httpCharset, txt)
        })
        .toDF("doc_id", "charset", "text")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  CASE doc_id % 9 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'windows-1251'
        |    WHEN 4 THEN 'utf-8' WHEN 5 THEN 'windows-1252'
        |    WHEN 6 THEN 'utf-8' WHEN 7 THEN 'iso-8859-7'
        |    ELSE 'ibm866' END AS charset,
        |  CASE doc_id % 9
        |    WHEN 0 THEN '<!-- <meta charset="koi8-r"> --><meta charset="utf-8"><p>naïve café №' || doc_id || '</p>'
        |    WHEN 1 THEN '<p>euro €' || doc_id || '</p>'
        |    WHEN 2 THEN '<meta http-equiv="Content-Type" content="text/html; charset=shift_jis"><p>テスト' || doc_id || '</p>'
        |    WHEN 3 THEN '<meta charset=windows-1251><p>Привет' || doc_id || '</p>'
        |    WHEN 4 THEN '<p>bom wins ☃' || doc_id || '</p>'
        |    WHEN 5 THEN '<p>fall™back' || doc_id || '</p>'
        |    WHEN 6 THEN '<meta name="description" content="see charset=koi8-r docs"><meta charset="utf-8"><p>naïve №' || doc_id || '</p>'
        |    WHEN 7 THEN '<meta data-charset="koi8-r" name="x"><meta charset=''greek''><p>αβγ' || doc_id || '</p>'
        |    ELSE '<img alt="a > charset=big5" src=i><meta content="text/html; charset=ibm866" http-equiv="content-type"><p>Тест' || doc_id || '</p>' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- incremental CDX-driven crawl consumption (job.type=cdxfetch):
    //     a mini-crawl of member-per-record .warc.gz files + a CDX
    //     index built from the writer's real member offsets; epoch 1
    //     ingests half the index, epoch 2 the rest — mostly duplicate
    //     digests the sharded ledger must skip WITHOUT refetching,
    //     plus genuinely new content range-read from only the needed
    //     byte ranges; a third run is a watermark no-op. Oracle =
    //     full recompute of the digest ledger ------------------------
    Gate("q_cdxfetch_job", (s, dir) => {
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files.createTempDirectory("q_cdxfetch").toString
      val warcDir = s"$tmp/warc"
      val cdx = buildMiniCrawl(s, dir, warcDir)
      val props = JobConfig.parse(
        s"""job.type=cdxfetch
           |job.name=cdxfetch_gate
           |source.path=$tmp/src
           |cdx.warcDir=$warcDir
           |cdx.maxGap=512
           |cdx.shards=8
           |sink.output=$tmp/ledger
           |state.dir=$tmp/wm
           |""".stripMargin)
      cdx.filter(col("seq") < 120).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      cdx.filter(col("seq") >= 120).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      require(r2("published") == "true" && r2("highWatermark") == "279",
        s"epoch 2 failed: $r2")
      val r3 = JobConfig.runAny(s, props)
      require(r3("published") == "false", s"empty epoch must be a no-op: $r3")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
      cdxLedgerOracle),

    // --- fetch-time politeness in the cdxfetch chain (cdx.robotsPath
    //     -> Robots.filterAllowed BEFORE digest dedup): domains with
    //     d%9==7 publish Disallow:/ (their captures must never be
    //     fetched — not even as a digest winner another URL's content
    //     rides on, so ck winners SHIFT to the next allowed capture:
    //     the candidates ck/ck+40/ck+80 differ mod 9),
    //     d%9==3 publish a non-matching Disallow:/q (stays allowed —
    //     path matching, not domain blanket). One epoch carries
    //     originals AND recaptures, so the per-url winner and the
    //     (filename,offset) join-back are exercised together. Oracle
    //     replays the robots filter + the shifted winner rule --------
    Gate("q_cdxfetch_robots", (s, dir) => {
      import s.implicits._
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxrobots").toString
      val warcDir = s"$tmp/warc"
      val cdx = buildMiniCrawl(s, dir, warcDir)
      (0L until 240L)
        .map(d => (s"site$d.example",
          if (d % 9 == 7) "User-agent: *\nDisallow: /"
          else if (d % 9 == 3) "User-agent: *\nDisallow: /q"
          else "User-agent: *\nAllow: /"))
        .toDF("domain", "content")
        .write.parquet(s"$tmp/robots")
      val props = JobConfig.parse(
        s"""job.type=cdxfetch
           |job.name=cdxfetch_robots_gate
           |source.path=$tmp/src
           |cdx.warcDir=$warcDir
           |cdx.maxGap=512
           |cdx.shards=8
           |cdx.robotsPath=$tmp/robots
           |sink.output=$tmp/ledger
           |state.dir=$tmp/wm
           |""".stripMargin)
      cdx.write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch failed: $r1")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |a AS (SELECT d FROM d WHERE d % 9 <> 7),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM a),
        |p AS (
        |  SELECT d, ck,
        |    '<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>' AS payload
        |  FROM c),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY d) AS rn
        |  FROM p)
        |SELECT md5(payload) AS digest,
        |  'https://site' || d || '.example/p' AS url,
        |  CAST(d AS BIGINT) AS seq,
        |  CAST(length(payload) AS BIGINT) AS n_chars
        |FROM w WHERE rn = 1 ORDER BY digest""".stripMargin),

    // --- schema.org JSON-LD extraction (Text.jsonLd): pages carry
    //     NewsArticle/BlogPosting blocks with object or bare-string
    //     authors, or no block at all; pure codegen'd regexp +
    //     from_json, oracle replays every field --------------------
    Gate("q_jsonld_meta", (s, dir) => {
      import graft.functions.Text
      val k = pmod(col("doc_id"), lit(4))
      val ld = when(k === 0, concat(
        lit("""{"@context":"https://schema.org","@type":"NewsArticle","headline":"Headline """),
        col("doc_id"),
        lit("""","datePublished":"2026-07-"""),
        (lit(10) + pmod(col("doc_id"), lit(19))),
        lit("""","inLanguage":"en","author":{"@type":"Person","name":"Reporter """),
        pmod(col("doc_id"), lit(3)), lit("\"}}")))
        .when(k === 1, concat(
          lit("""{"@type":"BlogPosting","headline":"Post """),
          col("doc_id"),
          lit("""","author":{"@type":"Person","name":"Author """),
          pmod(col("doc_id"), lit(7)), lit("\"}}")))
        .when(k === 2, concat(
          lit("""{"@type":"Article","headline":"Piece """),
          col("doc_id"),
          lit("""","author":"Writer """),
          pmod(col("doc_id"), lit(5)), lit("\"}")))
        .otherwise(lit(""))
      val html = concat(lit("<html><head><title>t</title>"),
        when(k =!= 3, concat(
          lit("""<script type="application/ld+json">"""), ld,
          lit("</script>"))).otherwise(lit("")),
        lit("</head><body>b</body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
          Text.jsonLd(html).as("ld"))
        .select(col("doc_id"),
          col("ld.ld_type").as("ld_type"),
          col("ld.headline").as("headline"),
          col("ld.date_published").as("date_published"),
          col("ld.in_language").as("in_language"),
          col("ld.author").as("author"),
          col("ld.author_raw").as("author_raw"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'NewsArticle' WHEN 1 THEN 'BlogPosting'
        |    WHEN 2 THEN 'Article' ELSE NULL END AS ld_type,
        |  CASE doc_id % 4 WHEN 0 THEN 'Headline ' || doc_id
        |    WHEN 1 THEN 'Post ' || doc_id
        |    WHEN 2 THEN 'Piece ' || doc_id ELSE NULL END AS headline,
        |  CASE doc_id % 4 WHEN 0 THEN '2026-07-' || (10 + doc_id % 19)
        |    ELSE NULL END AS date_published,
        |  CASE doc_id % 4 WHEN 0 THEN 'en' ELSE NULL END AS in_language,
        |  CASE doc_id % 4 WHEN 0 THEN 'Reporter ' || (doc_id % 3)
        |    WHEN 1 THEN 'Author ' || (doc_id % 7) ELSE NULL END AS author,
        |  CASE doc_id % 4 WHEN 2 THEN 'Writer ' || (doc_id % 5)
        |    ELSE '' END AS author_raw
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- STREAMING CDX consumption (foreachBatch + the same
    //     CdxIndex.ledgerMerge the batch job uses): three
    //     micro-batches of CDX rows in arrival order, each batch
    //     range-reading only its genuinely new content into the
    //     digest-sharded ledger — streaming delivery must converge to
    //     the identical ledger as a full recompute (same oracle as
    //     q_cdxfetch_job) -----------------------------------------
    Gate("q_stream_cdxfetch", (s, dir) => {
      import graft.operators.CdxIndex
      val tmp = java.nio.file.Files
        .createTempDirectory("q_stream_cdxf").toString
      val warcDir = s"$tmp/warc"
      val cdx = buildMiniCrawl(s, dir, warcDir)
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_cdxf_in")
      stageBatches(inDir, Seq(
        cdx.filter(col("seq") < 80),
        cdx.filter(col("seq") >= 80 && col("seq") < 160),
        cdx.filter(col("seq") >= 160)))
      val table = new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
        s.sparkContext.hadoopConfiguration)
      drainFileStream(s, cdx.schema, inDir, s"$tmp/ck") { delta =>
        val hasCurrent = table.currentVersion.isDefined
        val (merged, touched, cleanup) = CdxIndex.ledgerMerge(s, table,
          hasCurrent, delta, warcDir, "seq", maxGap = 512L, nShards = 8)
        // release the epoch's delta caches once the commit has
        // materialized them — a stream leaks one cache entry per
        // micro-batch otherwise
        try table.commit(merged, touched) finally cleanup()
      }
      table.readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
      cdxLedgerOracle),

    // --- WARC `warc/revisit` semantics in cdxfetch: real Common
    //     Crawl indexes carry revisit rows — dedup'd captures whose
    //     digest names an ORIGINAL payload (usually in an EARLIER
    //     crawl's files). They must never be fetched and never win
    //     digest dedup. The planted revisits all point at a file that
    //     DOES NOT EXIST (and one sorts lexically before every real
    //     capture, so a missing mime filter would make it the dedup
    //     winner) — any wrong fetch fails loudly, and the ledger must
    //     equal the revisit-free recompute VERBATIM ----------------
    Gate("q_cdxfetch_revisit", (s, dir) => {
      import s.implicits._
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxrevisit").toString
      val warcDir = s"$tmp/warc"
      val cdx = buildMiniCrawlMime(s, dir, warcDir)
      def md5(p: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(p.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      def payload(ck: Long): String =
        s"<html><p>page c$ck body w${ck * 7 % 50}</p></html>"
      val revisits =
        // re-captures of epoch-1 content arriving in epoch 2
        (0L until 40L).map { d =>
          (s"https://site$d.example/p", md5(payload(d)),
            "a-revisits-old-crawl.warc.gz", 1000L + d, 200L, 280L + d,
            "warc/revisit")
        } ++
        // revisits whose digest ALSO arrives as a fresh response in
        // the SAME delta: the response must win dedup
        (120L until 240L by 15L).map { d =>
          (s"https://site$d.example/p-re", md5(payload(40 + d % 40)),
            "a-revisits-old-crawl.warc.gz", 2000L + d, 200L, 320L + d,
            "warc/revisit")
        } ++
        // a digest visible ONLY through a revisit (original lives in
        // an older crawl): skipped, absent from the ledger
        Seq(("https://site9999.example/p", "00" * 16,
          "a-revisits-old-crawl.warc.gz", 9000L, 200L, 500L,
          "warc/revisit"))
      val all = cdx.unionByName(revisits
        .toDF("url", "digest", "filename", "offset", "length", "seq",
          "mime"))
      val props = JobConfig.parse(
        s"""job.type=cdxfetch
           |job.name=cdxfetch_revisit_gate
           |source.path=$tmp/src
           |cdx.warcDir=$warcDir
           |cdx.maxGap=512
           |cdx.shards=8
           |sink.output=$tmp/ledger
           |state.dir=$tmp/wm
           |""".stripMargin)
      all.filter(col("seq") < 120).write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, props)
      require(r1("published") == "true", s"epoch 1 failed: $r1")
      all.filter(col("seq") >= 120).write.mode("append").parquet(s"$tmp/src")
      val r2 = JobConfig.runAny(s, props)
      // max seq = 320 + 225 (the last same-delta revisit row)
      require(r2("published") == "true" && r2("highWatermark") == "545",
        s"epoch 2 failed: $r2")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
    // revisits add NOTHING: the ledger equals the revisit-free
    // recompute verbatim
      cdxLedgerOracle),

    // --- CDX index GENERATION (job.type=cdxindex, the PRODUCER side
    //     of cdxfetch): a crawl with no published index becomes
    //     consumable by indexing its .warc.gz store once. The built
    //     index must agree with the WRITER's ground truth (url,
    //     digest, member length, WARC-Date ts, mime) at every
    //     (filename, offset) identity — and then DRIVE cdxfetch end
    //     to end: warc store -> cdxindex -> cdxfetch -> the exact
    //     ledger a full recompute produces ------------------------
    Gate("q_cdx_index_build", (s, dir) => {
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxindex").toString
      val warcDir = s"$tmp/warc"
      val fixture = buildMiniCrawl(s, dir, warcDir)
      val r0 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxindex
           |job.name=cdxindex_gate
           |cdx.warcDir=$warcDir
           |cdx.digest=md5
           |sink.output=$tmp/index
           |""".stripMargin))
      require(r0("published") == "true", s"index build failed: $r0")
      val built = s.read.parquet(s"$tmp/index")
      val nF = fixture.count()
      require(r0("rowsWritten") == nF.toString,
        s"built ${r0("rowsWritten")} rows, writer ground truth has $nF")
      val joined = built.join(
        fixture.select(col("url").as("f_url"),
          col("digest").as("f_digest"), col("length").as("f_len"),
          col("seq"), col("filename"), col("offset")),
        Seq("filename", "offset"))
      require(joined.count() == nF, "identity join lost rows")
      require(joined.filter(col("url") =!= col("f_url") ||
        col("digest") =!= col("f_digest") ||
        col("length") =!= col("f_len") ||
        col("ts") =!= "20260101000000" ||
        col("mime") =!= "text/html" ||
        col("status") =!= 200 ||
        col("urlkey") =!= graft.operators.CdxIndex.surt(col("url")))
        .isEmpty, "built index disagrees with the writer's ground truth")
      // the built index (fixture seq attached per identity) now
      // drives the consumer job — self-indexing ingestion
      joined.select("url", "digest", "filename", "offset", "length",
        "seq").write.mode("append").parquet(s"$tmp/src")
      val r1 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxfetch
           |job.name=cdxindex_fetch_gate
           |source.path=$tmp/src
           |cdx.warcDir=$warcDir
           |cdx.maxGap=512
           |cdx.shards=8
           |sink.output=$tmp/ledger
           |state.dir=$tmp/wm
           |""".stripMargin))
      require(r1("published") == "true", s"fetch epoch failed: $r1")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
    // the self-indexed SINGLE-epoch chain: originals and recaptures
    // share one delta, so the per-URL winner keeps only the original
    // capture — the ledger is exactly the ck winners
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
        |p AS (
        |  SELECT d, ck,
        |    '<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>' AS payload
        |  FROM c),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY d) AS rn
        |  FROM p)
        |SELECT md5(payload) AS digest,
        |  'https://site' || d || '.example/p' AS url,
        |  CAST(d AS BIGINT) AS seq,
        |  CAST(length(payload) AS BIGINT) AS n_chars
        |FROM w WHERE rn = 1 ORDER BY digest""".stripMargin),

    // --- pywb-interoperable ZipNum export: the cdxindex job (run
    //     through a 2 KiB read window, exercising the window-growth
    //     walk on real member tilings) also emits the Common Crawl
    //     distribution layout — sorted cdx-NNNNN.gz text shards whose
    //     gzip BLOCKS (≤ linesPerBlock lines each) are addressed
    //     exactly by cluster.idx. The gate replays what a foreign
    //     ZipNum reader does: parse cluster.idx, require the blocks
    //     TILE each shard byte-exactly, range-read + gunzip every
    //     block, require global (urlkey, ts) order across the whole
    //     export and ≤ linesPerBlock lines per block, round-trip all
    //     lines through parseCdxj against the parquet index, and
    //     require identity with the WARC writer's ground truth.
    //     Output = the round-tripped captures (content-derived
    //     columns only; member lengths are gzip-encoder-dependent) --
    Gate("q_cdx_zipnum", (s, dir) => {
      import graft.runner.JobConfig
      import graft.operators.CdxIndex
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxzipnum").toString
      val warcDir = s"$tmp/warc"
      val fixture = buildMiniCrawl(s, dir, warcDir)
      val r0 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxindex
           |job.name=cdxzipnum_gate
           |cdx.warcDir=$warcDir
           |cdx.digest=md5
           |cdx.windowBytes=2048
           |cdx.zipnumDir=$tmp/zipnum
           |cdx.zipnumShards=3
           |cdx.linesPerBlock=7
           |sink.output=$tmp/index
           |""".stripMargin))
      require(r0("published") == "true" && r0("zipnumDir") == s"$tmp/zipnum",
        s"cdxindex+zipnum failed: $r0")
      // --- what a foreign ZipNum reader does, replayed loudly
      val zn = java.nio.file.Paths.get(s"$tmp/zipnum")
      val clusterLines = java.nio.file.Files
        .readAllLines(zn.resolve("cluster.idx")).asScala.toSeq
      val blocks = clusterLines.map { l =>
        val Array(key, fname, off, len, seqNo) = l.split("\t")
        (key, fname, off.toLong, len.toLong, seqNo.toLong)
      }
      require(blocks.map(_._5) == (1L to blocks.length).toSeq,
        "cluster.idx seq is not the 1-based global block ordinal")
      // blocks tile each shard file byte-exactly
      blocks.groupBy(_._2).foreach { case (fname, bs) =>
        val size = java.nio.file.Files.size(zn.resolve(fname))
        val sorted = bs.sortBy(_._3)
        require(sorted.head._3 == 0L &&
          sorted.map(b => b._3 + b._4).zip(sorted.tail.map(_._3))
            .forall { case (e, n) => e == n } &&
          sorted.last._3 + sorted.last._4 == size,
          s"$fname: cluster.idx blocks do not tile the shard exactly")
      }
      // range-read every block exactly as addressed; check order + cap
      val allLines = blocks.sortBy(b => (b._2, b._3)).flatMap {
        case (key, fname, off, len, _) =>
          val ch = java.nio.file.Files.newByteChannel(zn.resolve(fname))
          val buf = java.nio.ByteBuffer.allocate(len.toInt)
          ch.position(off)
          while (buf.hasRemaining && ch.read(buf) >= 0) {}
          ch.close()
          require(!buf.hasRemaining, s"$fname: short read at $off")
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(buf.array()))
          val text = new String(gz.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          val lines = text.split("\n").toSeq.filter(_.nonEmpty)
          require(lines.nonEmpty && lines.size <= 7,
            s"$fname@$off: block carries ${lines.size} lines (cap 7)")
          require(lines.head.startsWith(key),
            s"$fname@$off: cluster.idx key '$key' is not the block's first line")
          lines
      }
      require(allLines == allLines.sorted,
        "shard lines are not globally (urlkey, ts)-ordered")
      require(allLines.size == fixture.count(),
        s"${allLines.size} exported lines != ${fixture.count()} captures")
      // parseCdxj round-trips every line against the parquet index
      import s.implicits._
      val parsed = CdxIndex.parseCdxj(allLines.toDF("line"))
      val idx = s.read.parquet(s"$tmp/index")
      require(parsed.exceptAll(idx).isEmpty && idx.exceptAll(parsed).isEmpty,
        "ZipNum round-trip diverges from the parquet index")
      // the distributed CONSUMER reads the layout back identically,
      // and a prefix lookup touches only matching blocks
      val reread = CdxIndex.readZipnum(s, s"$tmp/zipnum")
      require(reread.exceptAll(idx).isEmpty && idx.exceptAll(reread).isEmpty,
        "readZipnum diverges from the parquet index")
      val prefix = "example,site1"
      val probe = CdxIndex.readZipnum(s, s"$tmp/zipnum",
        urlkeyPrefix = Some(prefix))
      val expectP = idx.filter(col("urlkey").startsWith(prefix))
      require(probe.exceptAll(expectP).isEmpty &&
        expectP.exceptAll(probe).isEmpty,
        "prefix lookup through cluster.idx diverges from a full filter")
      // the per-shard .idx layout variant (extreme-scale: secondary-
      // index writing parallelizes with the shards, no cluster.idx)
      // must read back IDENTICALLY through the same consumer
      CdxIndex.exportZipnum(s, idx, s"$tmp/zipnum2", shards = 3,
        linesPerBlock = 7, perShardIdx = true)
      val z2 = java.nio.file.Paths.get(s"$tmp/zipnum2")
      require(!java.nio.file.Files.exists(z2.resolve("cluster.idx")) &&
        java.nio.file.Files.exists(z2.resolve("shards.idx")) &&
        java.nio.file.Files.list(z2).iterator().asScala
          .count(_.getFileName.toString.matches("cdx-\\d{5}\\.idx")) == 3,
        "per-shard layout did not write cdx-*.idx + shards.idx")
      val reread2 = CdxIndex.readZipnum(s, s"$tmp/zipnum2")
      require(reread2.exceptAll(idx).isEmpty &&
        idx.exceptAll(reread2).isEmpty,
        "per-shard .idx layout diverges from the parquet index")
      val probe2 = CdxIndex.readZipnum(s, s"$tmp/zipnum2",
        urlkeyPrefix = Some(prefix))
      require(probe2.exceptAll(expectP).isEmpty &&
        expectP.exceptAll(probe2).isEmpty,
        "prefix lookup through per-shard .idx diverges from a full filter")
      // identity against the WARC writer's ground truth -> output
      val joined = parsed.join(
        fixture.select(col("url").as("f_url"), col("digest").as("f_digest"),
          col("length").as("f_len"), col("seq"), col("filename"),
          col("offset")),
        Seq("filename", "offset"))
      require(joined.count() == fixture.count(), "identity join lost rows")
      require(joined.filter(col("url") =!= col("f_url") ||
        col("digest") =!= col("f_digest") ||
        col("length") =!= col("f_len")).isEmpty,
        "ZipNum content disagrees with the writer's ground truth")
      joined.select(col("seq"), col("url"), col("urlkey"), col("ts"),
        col("digest")).orderBy(col("seq"))
    },
    // every capture of buildMiniCrawl: originals (seq = d) plus the
    // d < 40 recaptures (seq = 240 + d); urlkey is the SURT form,
    // ts the writer's constant WARC-Date
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
        |caps AS (
        |  SELECT d AS seq,
        |    md5('<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>') AS digest, d AS site
        |  FROM c
        |  UNION ALL
        |  SELECT 240 + d,
        |    md5('<html><p>recrawl r' || d || ' body</p></html>'), d
        |  FROM d WHERE d < 40)
        |SELECT CAST(seq AS BIGINT) AS seq,
        |  'https://site' || site || '.example/p' AS url,
        |  'example,site' || site || ')/p' AS urlkey,
        |  '20260101000000' AS ts, digest
        |FROM caps ORDER BY seq""".stripMargin),

    // --- cdxfetch straight off a ZipNum distribution (the layout
    //     Common Crawl actually publishes): index a crawl with
    //     job.type=cdxindex emitting ONLY the ZipNum face, then run
    //     job.type=cdxfetch with cdx.zipnumSource=true — readZipnum
    //     feeds the ledger pipeline with no parquet conversion, the
    //     capture timestamp is the watermark (cdx.seq=ts), and a
    //     second epoch over the SAME index is a watermark no-op.
    //     Single-epoch winner semantics: digest dedup then per-URL
    //     min-(filename,offset) — recaptures drop, ck winners land
    //     (the q_cdx_index_build oracle shape, constant ts seq) -----
    Gate("q_cdxfetch_zipnum", (s, dir) => {
      import graft.runner.JobConfig
      val tmp = java.nio.file.Files
        .createTempDirectory("q_cdxzipfetch").toString
      val warcDir = s"$tmp/warc"
      buildMiniCrawl(s, dir, warcDir)
      val r0 = JobConfig.runAny(s, JobConfig.parse(
        s"""job.type=cdxindex
           |job.name=zipfetch_index
           |cdx.warcDir=$warcDir
           |cdx.digest=md5
           |cdx.zipnumDir=$tmp/zipnum
           |cdx.zipnumShards=2
           |cdx.linesPerBlock=16
           |sink.output=$tmp/index
           |""".stripMargin))
      require(r0("published") == "true", s"index build failed: $r0")
      def fetchEpoch(): Map[String, String] = JobConfig.runAny(s,
        JobConfig.parse(
          s"""job.type=cdxfetch
             |job.name=zipfetch_gate
             |source.path=$tmp/zipnum
             |cdx.zipnumSource=true
             |cdx.seq=ts
             |cdx.warcDir=$warcDir
             |cdx.maxGap=512
             |cdx.shards=8
             |sink.output=$tmp/ledger
             |state.dir=$tmp/wm
             |""".stripMargin))
      val r1 = fetchEpoch()
      require(r1("published") == "true", s"zipnum fetch epoch failed: $r1")
      val r2 = fetchEpoch()
      require(r2("published") == "false",
        s"re-ingesting the same index must be a watermark no-op: $r2")
      new graft.sink.ShardedTable(s"$tmp/ledger", "shard",
          s.sparkContext.hadoopConfiguration)
        .readCurrent(s)
        .select(col("digest"), col("url"), col("seq"), col("n_chars"))
        .orderBy(col("digest"))
    },
    // ck winners only (digest dedup then per-URL min-offset winner
    // drops the recaptures in one epoch); seq is the constant capture
    // timestamp — the ZipNum watermark column
      """WITH d AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 240),
        |c AS (
        |  SELECT d, CASE WHEN d >= 120 AND d % 3 = 0
        |    THEN 40 + d % 40 ELSE d % 40 END AS ck FROM d),
        |p AS (
        |  SELECT d, ck,
        |    '<html><p>page c' || ck || ' body w' || (ck * 7 % 50) ||
        |      '</p></html>' AS payload
        |  FROM c),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY d) AS rn
        |  FROM p)
        |SELECT md5(payload) AS digest,
        |  'https://site' || d || '.example/p' AS url,
        |  CAST(20260101000000 AS BIGINT) AS seq,
        |  CAST(length(payload) AS BIGINT) AS n_chars
        |FROM w WHERE rn = 1 ORDER BY digest""".stripMargin)
  )
}
