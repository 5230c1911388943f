package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

import Fixtures._

/** Media codec gates: image, audio, video, document and archive
  * decoders over synthesized or committed fixtures, media scrubs, and
  * perceptual near-dup over decoded content.
  */
object MediaGates {

  /** Planted BMP for doc `id`: pattern keyed by id % 40 so groups
    * share pixels, every 3rd doc lightly perturbed. Single source of
    * truth for every image gate; [[imageBitsCtes]] restates it.
    */
  private def synthBmp(id: Long): Array[Byte] = {
    val g = (id % 40).toInt
    val w = 8 + (g % 5) * 2
    val h = 8 + (g % 3) * 4
    val pert = id % 3 == 0
    graft.operators.Multimodal.BmpCodec.synthesize(w, h, { i =>
      val base = ((g + 1) * (i + 3) * 1103) % 256
      (base + (if (pert && i % 97 == 0) 128 else 0)) % 256
    })
  }

  /** Planted WAV for doc `id`: pattern keyed by id % 30, docs with
    * id % 4 == 1 head-perturbed (an ODD residue, so the perturbation
    * also fires when only odd ids carry audio, as in the flagship
    * gate). [[audioBitsCtes]] restates it.
    */
  private def synthWav(id: Long): Array[Byte] = {
    val g = (id % 30).toInt
    val pert = id % 4 == 1
    graft.operators.Multimodal.WavCodec.synthesize(8000,
      Array.tabulate(130) { tt =>
        ((((g + 1) * (tt + 7) * 2203) % 2003 - 1001) +
          (if (pert && tt < 6) 900 else 0)).toShort
      })
  }

  /** Image aHash replay shared by the image near-dup gates: planted
    * pixels → 8x8 nearest-neighbor samples → integer lumas → mean
    * threshold bits (one 0/1 list per doc), plus the brute-force
    * pair distances. `where` restricts which docs carry images.
    */
  private def imageBitsCtes(where: String = ""): String =
    s"""d AS (
      |  SELECT doc_id, doc_id % 40 AS g, doc_id % 3 = 0 AS pert,
      |    8 + (doc_id % 40) % 5 * 2 AS w, 8 + (doc_id % 40) % 3 * 4 AS h
      |  FROM documents$where),
      |lum AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    list_sum(list_transform(range(0, 3), c ->
      |      (((g + 1) *
      |          (((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + c)
      |            + 3) * 1103) % 256
      |       + CASE WHEN pert AND
      |           (((((j // 8) * h // 8) * w + ((j % 8) * w // 8)) * 3 + c)
      |             % 97 = 0)
      |         THEN 128 ELSE 0 END) % 256))) AS lumas
      |  FROM d),
      |tot AS (SELECT doc_id, lumas, list_sum(lumas) AS total FROM lum),
      |bits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN 64 * lumas[j + 1] > total THEN 1 ELSE 0 END) AS bits
      |  FROM tot),
      |allpairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)""".stripMargin

  /** Audio fingerprint replay shared by the audio gates: planted
    * samples → 65 window energies → delta bits, plus the brute-force
    * pair distances. `where` restricts which docs carry audio.
    */
  private def audioBitsCtes(where: String = ""): String =
    s"""ad AS (
      |  SELECT doc_id, doc_id % 30 AS g, doc_id % 4 = 1 AS pert
      |  FROM documents$where),
      |aen AS (
      |  SELECT doc_id, list_transform(range(0, 65), aw ->
      |    abs((((g + 1) * ((2 * aw) + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND (2 * aw) < 6 THEN 900 ELSE 0 END) +
      |    abs((((g + 1) * ((2 * aw + 1) + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND (2 * aw + 1) < 6 THEN 900 ELSE 0 END))
      |    AS en
      |  FROM ad),
      |abits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END) AS bits
      |  FROM aen),
      |apairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM abits a JOIN abits b ON a.doc_id < b.doc_id)""".stripMargin

  /** Depth-aware audio-bits replay for q_audio_neardup: each doc
    * carries the shared recording in the container/depth keyed by
    * doc_id % 5 — 3 ships 24-bit FLAC storing base<<8 (the norm16
    * shift cancels EXACTLY, so the bits equal the 16-bit twins'), 4
    * ships 8-bit WAV storing base>>8 (norm16 yields the floor-
    * quantized samples this replay computes — quantization is
    * replayed, never assumed away).
    */
  private def audioDepthBitsCtes(where: String = ""): String =
    s"""ad AS (
      |  SELECT doc_id, doc_id % 30 AS g, doc_id % 4 = 1 AS pert,
      |    doc_id % 5 AS cont
      |  FROM documents$where),
      |asamp AS (
      |  SELECT doc_id, list_transform(range(0, 130), t ->
      |    CASE WHEN cont = 4 THEN
      |      CAST(floor(((((g + 1) * (t + 7) * 2203) % 2003 - 1001) +
      |        CASE WHEN pert AND t < 6 THEN 900 ELSE 0 END) / 256.0)
      |        AS BIGINT) * 256
      |    ELSE (((g + 1) * (t + 7) * 2203) % 2003 - 1001) +
      |      CASE WHEN pert AND t < 6 THEN 900 ELSE 0 END END) AS sm
      |  FROM ad),
      |aen AS (
      |  SELECT doc_id, list_transform(range(0, 65), aw ->
      |    abs(sm[2 * aw + 1]) + abs(sm[2 * aw + 2])) AS en
      |  FROM asamp),
      |abits AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END) AS bits
      |  FROM aen),
      |apairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    list_sum(list_transform(range(0, 64), j ->
      |      CASE WHEN a.bits[j + 1] <> b.bits[j + 1] THEN 1 ELSE 0 END))
      |      AS hamming
      |  FROM abits a JOIN abits b ON a.doc_id < b.doc_id)""".stripMargin

  /** Constant-block gray frame value for video `d`, frame `f`, 16x16
    * block `(bx, by)` on the 64x48 canvas — single source of truth;
    * the q_frame_decode oracle restates it.
    */
  private def frameValue(d: Long, f: Int, bx: Int, by: Int): Int =
    (22 + (d * 31 + f * 17 + bx * 41 + by * 59) % 211).toInt

  /** MJPEG-in-AVI fixture for doc `d`: 4-6 frames of 64x48 gray
    * constant 16x16 blocks, encoded at quality 100 / 4:2:0 (DC-only
    * blocks decode bit-exactly through the full color path).
    */
  private[graft] def synthAvi(d: Long): Array[Byte] = {
    import graft.operators.{AviCodec, JpegCodec}
    val nf = (4 + (d / 25) % 3).toInt
    val frames = (0 until nf).map { f =>
      val rgb = new Array[Byte](64 * 48 * 3)
      var y = 0
      while (y < 48) {
        var x = 0
        while (x < 64) {
          val v = frameValue(d, f, x / 16, y / 16)
          val o = (y * 64 + x) * 3
          rgb(o) = v.toByte; rgb(o + 1) = v.toByte; rgb(o + 2) = v.toByte
          x += 1
        }
        y += 1
      }
      JpegCodec.encodeRgb(64, 48, rgb, quality = 100, subsample = true)
    }
    AviCodec.synthesize(64, 48, 33333, frames)
  }

  /** Near-dup fixture: content keyed by group (d/25) % 5 so 4 videos
    * share each group's frames (re-encoded copies = hamming-0 pairs);
    * odd (d/25) videos brighten block (0,0) of frame 1 by +30 — a
    * few-bit aHash wobble in some groups, the near-but-not-identical
    * signal (and cross-frame pairs land at small distances naturally).
    */
  private def neardupValue(d: Long, f: Int, bx: Int, by: Int): Int = {
    val g = (d / 25) % 5
    val base = (25 + (g * 37 + f * 13 + bx * 47 + by * 71) % 199).toInt
    base + (if ((d / 25) % 2 == 1 && f == 1 && bx == 0 && by == 0) 30 else 0)
  }

  private[graft] def synthNeardupAvi(d: Long): Array[Byte] = {
    import graft.operators.{AviCodec, JpegCodec}
    val frames = (0 until 3).map { f =>
      val rgb = new Array[Byte](64 * 48 * 3)
      var y = 0
      while (y < 48) {
        var x = 0
        while (x < 64) {
          val v = neardupValue(d, f, x / 16, y / 16)
          val o = (y * 64 + x) * 3
          rgb(o) = v.toByte; rgb(o + 1) = v.toByte; rgb(o + 2) = v.toByte
          x += 1
        }
        y += 1
      }
      JpegCodec.encodeRgb(64, 48, rgb, quality = 100, subsample = true)
    }
    AviCodec.synthesize(64, 48, 33333, frames)
  }

  /** PNG fixture value: channel `c` of 16x16 block `(bx, by)` for
    * image `d` — the oracle restates it. Gray images ((d/25) even) use
    * c = 0 only.
    */
  private def pngValue(d: Long, c: Int, bx: Int, by: Int): Int =
    (13 + (d * 29 + c * 53 + bx * 43 + by * 61) % 223).toInt

  /** Deterministic PNG fixture for doc `d`: 64x48, constant 16x16
    * blocks; even (d/25) gray (1 channel), odd RGB. Encoded with the
    * ADAPTIVE-filter encoder, so decode exercises the real unfilter
    * matrix while remaining bit-exact (PNG is lossless).
    */
  private[graft] def synthPng(d: Long): Array[Byte] = {
    import graft.operators.PngCodec
    val gray = (d / 25) % 2 == 0
    val ch = if (gray) 1 else 3
    val px = new Array[Byte](64 * 48 * ch)
    var y = 0
    while (y < 48) {
      var x = 0
      while (x < 64) {
        var c = 0
        while (c < ch) {
          px((y * 64 + x) * ch + c) =
            pngValue(d, if (gray) 0 else c, x / 16, y / 16).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    PngCodec.encode(64, 48, ch, px)
  }

  /** GIF fixture frame value: 16x16 block `(bx, by)` of frame `f` for
    * image `d`, a gray palette index — the oracle restates it.
    */
  private def gifValue(d: Long, f: Int, bx: Int, by: Int): Int =
    (18 + (d * 37 + f * 23 + bx * 41 + by * 67) % 229).toInt

  /** Animated-GIF fixture for doc `d`: 2-4 full-canvas opaque frames
    * of 64x48 constant 16x16 blocks over a 256-gray global palette
    * (index == intensity), LZW-compressed by [[GifCodec.encode]].
    * Full-canvas opaque frames make composited == raw, so the oracle
    * replays per-frame stats exactly.
    */
  private[graft] def synthGif(d: Long): Array[Byte] = {
    import graft.operators.GifCodec
    val pal = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      pal(i * 3) = i.toByte; pal(i * 3 + 1) = i.toByte; pal(i * 3 + 2) = i.toByte
      i += 1
    }
    val nf = (2 + (d / 25) % 3).toInt
    val frames = (0 until nf).map { f =>
      val idx = new Array[Byte](64 * 48)
      var y = 0
      while (y < 48) {
        var x = 0
        while (x < 64) {
          idx(y * 64 + x) = gifValue(d, f, x / 16, y / 16).toByte
          x += 1
        }
        y += 1
      }
      idx
    }
    GifCodec.encode(64, 48, pal, frames, interlaced = d % 50 == 0)
  }

  /** Cross-format fixture: image `d`'s 16x16 block value at block
    * `(bx, by)` — keyed by content GROUP g = (d/25) % 5, not by id, so
    * ids sharing g carry the SAME pixels in DIFFERENT formats; odd
    * (d/25)/2 images REFLECT block (0,0) (v -> 240-v), pushing its
    * ~6 aHash cells across the brightness-mean threshold — the
    * near-but-not-identical signal. The oracle restates it.
    */
  private def crossValue(d: Long, bx: Int, by: Int): Int = {
    val k = d / 25
    val g = k % 5
    val base = (20 + (g * 53 + bx * 37 + by * 73) % 200).toInt
    if ((k / 2) % 2 == 1 && bx == 0 && by == 0) 240 - base else base
  }

  /** The same 64x48 gray constant-block content serialized as PNG /
    * GIF / JPEG-q100 / BMP / WebP-VP8L / EXIF-rotated JPEG / TIFF-LZW
    * — every format's decode must land on the identical top-down
    * pixels (JPEG is exact in the q100 constant-block regime; the
    * others are lossless; the rotated JPEG stores the pixels
    * 90°-CCW-turned with Orientation=6, which decodeNormalized must
    * rotate back). The format index (k%7 + k/7) % 7 varies WITHIN
    * each content group g = k%5, so near-dup pairs genuinely cross
    * formats; the oracle needs no format knowledge because every
    * decode is pixel-exact.
    */
  private[graft] def synthCrossformat(d: Long): Array[Byte] = {
    import graft.operators.{GifCodec, JpegCodec, PngCodec, TiffCodec, WebpCodec}
    def v(x: Int, y: Int): Int = crossValue(d, x / 16, y / 16)
    val k = d / 25
    ((k % 7 + k / 7) % 7).toInt match {
      case 0 => // PNG, 1-channel gray
        val px = new Array[Byte](64 * 48)
        var i = 0
        while (i < px.length) { px(i) = v(i % 64, i / 64).toByte; i += 1 }
        PngCodec.encode(64, 48, 1, px)
      case 1 => // GIF, gray palette (index == intensity)
        val pal = new Array[Byte](768)
        var j = 0
        while (j < 256) {
          pal(j * 3) = j.toByte; pal(j * 3 + 1) = j.toByte; pal(j * 3 + 2) = j.toByte
          j += 1
        }
        val idx = new Array[Byte](64 * 48)
        var i = 0
        while (i < idx.length) { idx(i) = v(i % 64, i / 64).toByte; i += 1 }
        GifCodec.encode(64, 48, pal, Seq(idx))
      case 2 => // JPEG q100 4:2:0 (bit-exact for constant 16x16 blocks)
        val rgb = new Array[Byte](64 * 48 * 3)
        var i = 0
        while (i < 64 * 48) {
          val b = v(i % 64, i / 64).toByte
          rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
          i += 1
        }
        JpegCodec.encodeRgb(64, 48, rgb, quality = 100, subsample = true)
      case 3 => // BMP (bottom-up file rows; aHashAuto flips)
        graft.operators.Multimodal.BmpCodec.synthesize(64, 48, { i =>
          val pix = i / 3
          v(pix % 64, 47 - pix / 64) // file row y is image row 47-y
        })
      case 4 => // WebP VP8L (gray replicated to RGB; lossless)
        val rgb = new Array[Byte](64 * 48 * 3)
        var i = 0
        while (i < 64 * 48) {
          val b = v(i % 64, i / 64).toByte
          rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
          i += 1
        }
        WebpCodec.encodeLossless(64, 48, 3, rgb)
      case 5 => // JPEG q100 stored 90°-CCW-rotated + EXIF Orientation=6
        val rgb = new Array[Byte](64 * 48 * 3)
        var i = 0
        while (i < 64 * 48) {
          val b = v(i % 64, i / 64).toByte
          rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
          i += 1
        }
        val upright = JpegCodec.DecodedImage(64, 48, 3, rgb)
        val stored = graft.operators.Multimodal.applyOrientation(upright, 8)
        JpegCodec.withExifOrientation(
          JpegCodec.encodeRgb(stored.width, stored.height, stored.pixels,
            quality = 100, subsample = true),
          orientation = 6, bigEndian = d % 2 == 0)
      case _ => // TIFF gray, LZW + predictor, alternating byte orders
        val px = new Array[Byte](64 * 48)
        var i = 0
        while (i < px.length) { px(i) = v(i % 64, i / 64).toByte; i += 1 }
        TiffCodec.encode(64, 48, 1, px, compression = 5, predictor = true,
          bigEndian = d % 2 == 0)
    }
  }

  /** Per-PIXEL gradient value for the resize fixture (not blocks —
    * resize must actually change the sampled values). The oracle
    * restates it.
    */
  private def gradValue(d: Long, x: Int, y: Int): Int =
    (13 + (d * 7 + x * 3 + y * 5) % 241).toInt

  /** The same 64x48 per-pixel gradient serialized as PNG / GIF / BMP
    * by (d/25) % 3 (all lossless — the resize gate needs exact
    * source pixels).
    */
  private[graft] def synthGradient(d: Long): Array[Byte] = {
    import graft.operators.{GifCodec, PngCodec}
    def v(x: Int, y: Int): Int = gradValue(d, x, y)
    ((d / 25) % 3).toInt match {
      case 0 =>
        val px = new Array[Byte](64 * 48)
        var i = 0
        while (i < px.length) { px(i) = v(i % 64, i / 64).toByte; i += 1 }
        PngCodec.encode(64, 48, 1, px)
      case 1 =>
        val pal = new Array[Byte](768)
        var j = 0
        while (j < 256) {
          pal(j * 3) = j.toByte; pal(j * 3 + 1) = j.toByte; pal(j * 3 + 2) = j.toByte
          j += 1
        }
        val idx = new Array[Byte](64 * 48)
        var i = 0
        while (i < idx.length) { idx(i) = v(i % 64, i / 64).toByte; i += 1 }
        GifCodec.encode(64, 48, pal, Seq(idx))
      case _ =>
        graft.operators.Multimodal.BmpCodec.synthesize(64, 48, { i =>
          val pix = i / 3
          v(pix % 64, 47 - pix / 64)
        })
    }
  }

  /** Block value for the q_phash fixture: 64x64 BMP of constant 16x16
    * blocks (the oracle restates this formula).
    */
  private def phashBlockVal(d: Long, bx: Int, by: Int): Int =
    (20 + (d * 37 + bx * 53 + by * 77) % 200).toInt

  /** Near-dup fixture: content keyed by group (d/25)%5 (copies hash
    * identically); odd (d/25) images get a UNIFORM +17 brightness
    * shift — the re-grade pHash nearly ignores (only quantization
    * residue in even DCT rows moves) but aHash would scatter.
    */
  private def phashNeardupVal(d: Long, bx: Int, by: Int): Int = {
    val g = (d / 25) % 5
    (20 + (g * 41 + bx * 67 + by * 83) % 200).toInt +
      (if ((d / 25) % 2 == 1) 17 else 0)
  }

  private[graft] def synthPhashBmp(d: Long, v: (Long, Int, Int) => Int): Array[Byte] =
    operators.Multimodal.BmpCodec.synthesize(64, 64, { k =>
      val pix = k / 3
      v(d, (pix % 64) / 16, (pix / 64) / 16)
    })

  private def phashMedia(s: SparkSession, dir: String,
      v: (Long, Int, Int) => Int): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
      .as[Long]
      .mapPartitions(_.map(id => (id, synthPhashBmp(id, v))))
      .toDF("media_id", "content")
  }

  /** DuckDB DCT pHash replay over a fixture formula `vSql(doc)` giving
    * the 16x16-block value as SQL over `doc_id` and block coords
    * `bx`/`by` — shared by both pHash oracles.
    */
  private def phashOracleCte(vSql: String): String =
    s"""imgs AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
       |dct AS (SELECT ${functions.PerceptualHash.dctSqlLiteral} AS D),
       |g AS (SELECT doc_id, list_transform(range(0, 1024), i ->
       |        12 * ($vSql)) AS gg
       |      FROM imgs),
       |tt AS (SELECT doc_id, list_transform(range(0, 256), k ->
       |        list_sum(list_transform(range(0, 32), x ->
       |          gg[(k % 32) * 32 + x + 1] * D[(k // 32) + 1][x + 1]))) AS tv
       |      FROM g, dct),
       |ff AS (SELECT doc_id, list_transform(range(0, 64), k ->
       |        list_sum(list_transform(range(0, 32), y ->
       |          tv[(k // 8) * 32 + y + 1] * D[(k % 8) + 1][y + 1]))) AS fv
       |      FROM tt, dct),
       |bits AS (SELECT doc_id, fv, list_sort(fv[2:])[32] AS med FROM ff)""".stripMargin

  // fixture block coords from the 32x32 cell index i: pixel x = 2*(i%32),
  // block bx = x/16 = (i%32)//8; same for by
  private val PhashVal =
    "20 + (doc_id * 37 + ((i % 32) // 8) * 53 + ((i // 32) // 8) * 77) % 200"

  private val PhashNeardupVal =
    """20 + (((doc_id // 25) % 5) * 41 + ((i % 32) // 8) * 67 + ((i // 32) // 8) * 83) % 200
      | + CASE WHEN (doc_id // 25) % 2 = 1 THEN 17 ELSE 0 END""".stripMargin

  /** WebP fixture value: channel `c` of 16x16 block `(bx, by)` for
    * image `d` — the oracle restates it.
    */
  private def webpValue(d: Long, c: Int, bx: Int, by: Int): Int =
    (11 + (d * 31 + c * 59 + bx * 47 + by * 71) % 227).toInt

  /** Deterministic VP8L fixture for doc `d`: 64x48 RGB, constant
    * 16x16 blocks, encoded by [[graft.operators.WebpCodec.encodeLossless]]
    * (lossless, so the oracle replays dims, exact channel sums, and
    * the 64-bit aHash analytically).
    */
  private[graft] def synthWebp(d: Long): Array[Byte] = {
    val px = new Array[Byte](64 * 48 * 3)
    var y = 0
    while (y < 48) {
      var x = 0
      while (x < 64) {
        var c = 0
        while (c < 3) {
          px((y * 64 + x) * 3 + c) = webpValue(d, c, x / 16, y / 16).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    graft.operators.WebpCodec.encodeLossless(64, 48, 3, px)
  }

  /** Animated-WebP fixture value: gray level of 16x16 block `(bx, by)`
    * as painted by frame `f` (f = 0 is the full-canvas base) — the
    * oracle restates it.
    */
  private def webpAnimValue(d: Long, f: Int, bx: Int, by: Int): Int =
    (9 + (d * 23 + f * 29 + bx * 31 + by * 61) % 233).toInt

  /** Animated VP8L fixture for doc `d`: 64x48 canvas, 2-4 frames;
    * frame 0 paints the full canvas (constant 16x16 blocks), each
    * later frame overwrites ONE block-aligned 16x16 rect at
    * `((f*7 + d/25) % 4, (f*11) % 3)` — so composited frame f is the
    * base with the latest paint per block, which the oracle replays
    * with a last-painter scan.
    */
  private[graft] def synthAnimWebp(d: Long): Array[Byte] = {
    import graft.operators.WebpCodec
    val nf = (2 + (d / 25) % 3).toInt
    def gray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      val px = new Array[Byte](w * h * 3)
      var i = 0
      while (i < w * h) {
        val b = v(i % w, i / w).toByte
        px(i * 3) = b; px(i * 3 + 1) = b; px(i * 3 + 2) = b
        i += 1
      }
      px
    }
    val frames = (0 until nf).map { f =>
      if (f == 0)
        WebpCodec.AnimFrameSpec(0, 0, 64, 48, 40, noBlend = true,
          disposeBg = false,
          gray(64, 48, (x, y) => webpAnimValue(d, 0, x / 16, y / 16)))
      else {
        val bx = ((f * 7 + d / 25) % 4).toInt
        val by = (f * 11) % 3
        WebpCodec.AnimFrameSpec(bx * 16, by * 16, 16, 16, 40 + 10 * f,
          noBlend = true, disposeBg = false,
          gray(16, 16, (_, _) => webpAnimValue(d, f, bx, by)))
      }
    }
    WebpCodec.encodeAnim(64, 48, loopCount = 0, frames)
  }

  /** Multi-page gray TIFF for doc `d`: 64x48 constant 16x16 blocks,
    * 1-3 pages, variant (d/25) % 5 sweeps compression (none / LZW +
    * predictor in both byte orders / Deflate / PackBits). The oracle
    * replays the block formula; every variant is lossless.
    */
  private[graft] def synthTiff(d: Long): Array[Byte] = {
    import graft.operators.TiffCodec
    val k = (d / 25).toInt
    def tv(p: Int, bx: Int, by: Int): Int =
      (15 + (d * 41 + p * 29 + bx * 37 + by * 71) % 227).toInt
    val nPages = 1 + k % 3
    val pages = (0 until nPages).map { p =>
      Array.tabulate(64 * 48)(i => tv(p, (i % 64) / 16, (i / 64) / 16).toByte)
    }
    k % 5 match {
      case 0 => TiffCodec.encodeGrayPages(64, 48, pages, compression = 1,
        rowsPerStrip = 7)
      case 1 => TiffCodec.encodeGrayPages(64, 48, pages, compression = 5,
        predictor = true)
      case 2 => TiffCodec.encodeGrayPages(64, 48, pages, compression = 5,
        predictor = true, bigEndian = true)
      case 3 => TiffCodec.encodeGrayPages(64, 48, pages, compression = 8)
      case _ => TiffCodec.encodeGrayPages(64, 48, pages, compression = 32773)
    }
  }

  val gates: Seq[Gate] = Seq(
    // --- multimodal binary decode plumbing (stub decoder) -------------
    Gate("q_multimodal_features", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"), lit("text").as("modality"),
        col("text").cast("binary").as("content"))
      Multimodal.decodeFeatures(
          Multimodal.repartitionForBytes(media, 1 << 20), Multimodal.FakeDecoder)
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("byte_mean"), col("head_hex"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, length(text) + 1), i -> unicode(substring(text, i, 1)))) AS DOUBLE)
        |    / octet_length(encode(text)) AS byte_mean,
        |  hex(encode(substring(text, 1, 4))) AS head_hex
        |FROM documents ORDER BY media_id""".stripMargin),

    // --- multimodal frame sampling (counts oracle-checked) ------------
    Gate("q_frame_sample", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
      Multimodal.sampleFrames(media, frameBytes = 64, everyN = 3)
        .toDF()
        .select(col("media_id"), col("n_frames"), col("n_sampled"), col("sampled_bytes"))
        .orderBy(col("media_id"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len FROM documents
        |), f AS (
        |  SELECT media_id, len,
        |    (len + 63) // 64 AS n_frames,
        |    ((len + 63) // 64 + 2) // 3 AS n_sampled,
        |    CASE WHEN len % 64 = 0 THEN 64 ELSE len % 64 END AS last_len
        |  FROM m
        |)
        |SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_sampled AS BIGINT) AS n_sampled,
        |  CAST(n_sampled * 64 - CASE WHEN (n_frames - 1) % 3 = 0 THEN 64 - last_len ELSE 0 END AS BIGINT) AS sampled_bytes
        |FROM f ORDER BY media_id""".stripMargin),

    // --- REAL audio decode (Multimodal.WavCodec): valid RIFF/WAVE
    //     PCM16 containers are synthesized per row from table
    //     parameters, then the actual chunk-walking parser extracts
    //     rate/bits/samples and computes mean |amplitude| from the LE
    //     sample bytes. The oracle replays the expected features from
    //     the SAME parameters — a header misread or endianness slip
    //     mismatches immediately ------------------------------------
    Gate("q_wav_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val rate = 8000 + (id % 3).toInt * 4000
          val samples = Array.tabulate(n.toInt)(i =>
            (((id * 31 + i * 17) % 65536) - 32768).toShort)
          (id, Multimodal.WavCodec.synthesize(rate, samples))
        }).toDF("media_id", "content")
      Multimodal.decodeWav(media).toDF().orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(n_chars AS BIGINT) AS n_samples,
        |  CAST(n_chars AS BIGINT) * 1000000 // (8000 + (doc_id % 3) * 4000) AS duration_us,
        |  CAST(list_sum(list_transform(range(0, n_chars),
        |    i -> abs((doc_id * 31 + i * 17) % 65536 - 32768))) AS DOUBLE)
        |    / CAST(n_chars AS DOUBLE) AS mean_abs_amp
        |FROM documents ORDER BY media_id""".stripMargin),

    // --- REAL image decode (Multimodal.BmpCodec): uncompressed 24-bpp
    //     BMPs synthesized per row (width varies with doc_id so the
    //     4-byte row stride padding actually varies), parsed by the
    //     real header/stride walker; oracle replays mean intensity
    //     from the linear channel formula -----------------------------
    Gate("q_bmp_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 5).toInt
          val h = 4 + (id % 3).toInt
          (id, Multimodal.BmpCodec.synthesize(w, h, i => ((id * 7 + i) % 256).toInt))
        }).toDF("media_id", "content")
      Multimodal.decodeBmp(media).toDF().orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 5 AS INT) AS width,
        |  CAST(4 + doc_id % 3 AS INT) AS height,
        |  CAST(24 AS INT) AS bpp,
        |  (8 + doc_id % 5) * (4 + doc_id % 3) AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 5) * (4 + doc_id % 3) * 3),
        |    i -> (doc_id * 7 + i) % 256)) AS DOUBLE)
        |    / CAST((8 + doc_id % 5) * (4 + doc_id % 3) * 3 AS DOUBLE) AS mean_intensity
        |FROM documents ORDER BY media_id""".stripMargin),

    // --- mixed-modality dispatch (Multimodal.decodeAuto): a single
    //     binary column carrying WAVs, PNGs, BMPs, GIFs, ZIPs and
    //     TARs keyed by id % 6; magic-byte sniffing routes each
    //     payload to its REAL codec (archives probe member counts +
    //     payload means). The oracle replays all six formulas --------
    Gate("q_media_dispatch", (s, dir) => {
      import s.implicits._
      import graft.operators.{GifCodec, Multimodal, PngCodec, TarCodec, ZipCodec}
      val media = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val w = 8 + (id % 5).toInt
          val h = 4 + (id % 3).toInt
          def archiveMembers: Seq[(String, Array[Byte])] = {
            val nm = 1 + (id % 3).toInt
            val len = 50 + (id % 20).toInt
            (0 until nm).map(k => (f"m$k.bin",
              Array.tabulate(len)(i => ((id * 13 + k * 7 + i) % 256).toByte)))
          }
          val bytes = (id % 6) match {
            case 0L =>
              val rate = 8000 + (id % 3).toInt * 4000
              Multimodal.WavCodec.synthesize(rate, Array.tabulate(n.toInt)(i =>
                (((id * 31 + i * 17) % 65536) - 32768).toShort))
            case 1L =>
              PngCodec.encode(w, h, 1,
                Array.tabulate(w * h)(i => ((id * 7 + i) % 256).toByte))
            case 2L =>
              Multimodal.BmpCodec.synthesize(w, h, i => ((id * 7 + i) % 256).toInt)
            case 3L =>
              val pal = new Array[Byte](768)
              var j = 0
              while (j < 256) {
                pal(j * 3) = j.toByte; pal(j * 3 + 1) = j.toByte
                pal(j * 3 + 2) = j.toByte
                j += 1
              }
              GifCodec.encode(w, h, pal,
                Seq(Array.tabulate(w * h)(i => ((id * 11 + i) % 256).toByte)))
            case 4L => ZipCodec.write(archiveMembers)
            case _ => TarCodec.write(archiveMembers)
          }
          (id, bytes)
        }).toDF("media_id", "content")
      Multimodal.decodeAuto(media).toDF().orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    (8 + doc_id % 5) * (4 + doc_id % 3) AS np,
        |    1 + doc_id % 3 AS nm, 50 + doc_id % 20 AS ml FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'audio/wav' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'image/bmp' WHEN 3 THEN 'image/gif'
        |    WHEN 4 THEN 'application/zip' ELSE 'application/x-tar'
        |  END AS modality,
        |  CASE doc_id % 6 WHEN 0 THEN CAST(n_chars AS BIGINT)
        |    WHEN 3 THEN 1 WHEN 4 THEN nm WHEN 5 THEN nm ELSE np END AS n_units,
        |  CASE doc_id % 6
        |  WHEN 0 THEN
        |    CAST(list_sum(list_transform(range(0, n_chars),
        |      i -> abs((doc_id * 31 + i * 17) % 65536 - 32768))) AS DOUBLE)
        |      / CAST(n_chars AS DOUBLE)
        |  WHEN 1 THEN
        |    CAST(list_sum(list_transform(range(0, np),
        |      i -> (doc_id * 7 + i) % 256)) AS DOUBLE) / CAST(np AS DOUBLE)
        |  WHEN 2 THEN
        |    CAST(list_sum(list_transform(range(0, np * 3),
        |      i -> (doc_id * 7 + i) % 256)) AS DOUBLE) / CAST(np * 3 AS DOUBLE)
        |  WHEN 3 THEN
        |    CAST(list_sum(list_transform(range(0, np),
        |      i -> (doc_id * 11 + i) % 256)) AS DOUBLE) / CAST(np AS DOUBLE)
        |  ELSE
        |    CAST(list_sum(list_transform(range(0, nm * ml), j ->
        |      (doc_id * 13 + (j // ml) * 7 + j % ml) % 256)) AS DOUBLE)
        |      / CAST(nm * ml AS DOUBLE)
        |  END AS mean_val
        |FROM d ORDER BY media_id""".stripMargin),

    // --- REAL video-container probe (Multimodal.Mp4Codec): minimal
    //     ISO BMFF files synthesized per row (ftyp + moov/mvhd/trak),
    //     probed by the big-endian box walker; only codec FRAME decode
    //     remains a fake (no decoder in container) -------------------
    Gate("q_mp4_probe", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          (id, Multimodal.Mp4Codec.synthesize(
            timescale = 600 + (id % 4).toInt * 300,
            duration = (n * 100).toInt,
            nTracks = 1 + (id % 3).toInt))
        }).toDF("media_id", "content")
      Multimodal.probeMp4(media).toDF().orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST(600 + (doc_id % 4) * 300 AS BIGINT) AS timescale,
        |  CAST(n_chars * 100 AS BIGINT) AS duration_units,
        |  (n_chars * 100) * 1000 // (600 + (doc_id % 4) * 300) AS duration_ms,
        |  CAST(1 + doc_id % 3 AS INT) AS n_tracks
        |FROM documents ORDER BY media_id""".stripMargin),

    // --- audio resample (nearest-neighbor rate conversion over real
    //     PCM16 WAVs): per-doc audio at 8/12/16 kHz converted to
    //     6 kHz through the codec (parse -> index-map -> re-encode ->
    //     re-parse); the oracle replays the index arithmetic --------
    Gate("q_wav_resample", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val rate = 8000 + (id % 3).toInt * 4000
          val samples = Array.tabulate(n.toInt)(i =>
            (((id * 31 + i * 17) % 65536) - 32768).toShort)
          (id, Multimodal.WavCodec.synthesize(rate, samples))
        }).toDF("media_id", "content")
      Multimodal.resampleWav(media, 6000).toDF()
        .orderBy(col("media_id"))
    },
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    8000 + (doc_id % 3) * 4000 AS sr,
        |    (n_chars * 6000) // (8000 + (doc_id % 3) * 4000) AS n_out
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(6000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels, CAST(16 AS INT) AS bits,
        |  CAST(n_out AS BIGINT) AS n_samples,
        |  CAST((n_out * 1000000) // 6000 AS BIGINT) AS duration_us,
        |  CASE WHEN n_out = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(range(0, n_out), j ->
        |      abs((doc_id * 31 + ((j * sr) // 6000) * 17) % 65536 - 32768)))
        |      AS DOUBLE) / n_out
        |  END AS mean_abs_amp
        |FROM p ORDER BY media_id""".stripMargin),

    // --- multimodal resize (nearest-neighbor over real BMP bytes):
    //     synthesize per-doc images, resize through the codec
    //     (decode -> integer-floor resample -> re-encode -> re-parse),
    //     report the RESIZED image's features. The oracle replays the
    //     resample index arithmetic analytically from the generator --
    Gate("q_bmp_resize", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 5).toInt
          val h = 4 + (id % 3).toInt
          (id, Multimodal.BmpCodec.synthesize(w, h,
            i => ((id * 7 + i) % 256).toInt))
        }).toDF("media_id", "content")
      Multimodal.resizeBmp(media, 6, 4).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_pixels"), col("mean_intensity"))
        .orderBy(col("media_id"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,
        |  CAST(24 AS BIGINT) AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, 72), j ->
        |    (doc_id * 7 + (
        |      ((((j // 3) // 6) * (4 + doc_id % 3)) // 4
        |        * (8 + doc_id % 5)
        |       + (((j // 3) % 6) * (8 + doc_id % 5)) // 6) * 3
        |      + j % 3)) % 256)) AS DOUBLE) / 72 AS mean_intensity
        |FROM documents ORDER BY media_id""".stripMargin),

    // --- image perceptual-hash near-dup (multimodal dedup): REAL
    //     synthesized BMPs — pattern keyed by doc_id % 40 so groups
    //     share pixel content, every 3rd doc lightly perturbed — are
    //     aHashed through the actual codec (8x8 nearest-neighbor
    //     sample, integer mean threshold) and paired with the banded
    //     hamming join. The oracle replays pixels, sampling, bits,
    //     and the BRUTE-FORCE pair definition the banding must equal -
    Gate("q_image_neardup", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.aHashBmp(media).toDF()
        .withColumn("block", lit("all"))
      // collapsed shape: bit-identical groups -> star edges (hamming
      // 0), banding over distinct-hash representatives — linear output
      // on a hash-dominated corpus; the oracle replays exactly this
      Similarity.hammingPairs64(hashes, "media_id", "ahash", "block",
          maxHamming = 6, collapseIdentical = true)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // collapsed-shape replay: star edges within identical-bit groups
    // (group min as hub, hamming 0) + the brute-force pair definition
    // restricted to the distinct-hash representatives
      s"""WITH ${imageBitsCtes()},
         |hh AS (SELECT doc_id, array_to_string(bits, '') AS hs FROM bits),
         |hrep AS (SELECT hs, min(doc_id) AS rep FROM hh GROUP BY hs),
         |stars AS (
         |  SELECT r.rep AS id_a, g.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |  FROM hh g JOIN hrep r USING (hs) WHERE g.doc_id <> r.rep),
         |reppairs AS (
         |  SELECT p.id_a, p.id_b, CAST(p.hamming AS BIGINT) AS hamming
         |  FROM allpairs p
         |  WHERE p.hamming BETWEEN 1 AND 6
         |    AND p.id_a IN (SELECT rep FROM hrep)
         |    AND p.id_b IN (SELECT rep FROM hrep))
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT * FROM stars UNION ALL SELECT * FROM reppairs) u
         |ORDER BY id_a, id_b""".stripMargin),

    // --- audio fingerprint near-dup (multimodal dedup, audio leg):
    //     REAL synthesized audio (pattern keyed by doc_id % 30, every
    //     4th doc head-perturbed) fingerprinted through the actual
    //     codecs (65-window energy deltas, exact integers) and paired
    //     with the banded hamming join. Containers/depths vary by
    //     doc_id % 5: 2 ships the SAME samples as a 16-bit FLAC, 3 as
    //     a 24-bit FLAC (base<<8 — the archival depth; norm16 cancels
    //     the shift EXACTLY so it collapses with its 16-bit twins), 4
    //     as an 8-bit legacy WAV (base>>8 — norm16 yields the floor-
    //     quantized samples the oracle replays). Oracle replays
    //     samples (incl. quantization) → energies → bits → the
    //     brute-force pair definition -------------------------------
    Gate("q_audio_neardup", (s, dir) => {
      import s.implicits._
      import graft.operators.{FlacAudio, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val wav = synthWav(id)
          // the base PCM lives in the canonical 44-byte-header WAV's
          // data chunk; depth variants re-container the SAME recording
          lazy val pcm = Array.tabulate((wav.length - 44) / 2) { i =>
            ((wav(44 + 2 * i) & 0xff) | (wav(45 + 2 * i) << 8)).toShort.toInt
          }
          (id % 5) match {
            case 2 => (id, FlacAudio.encode(8000, 1, 16, pcm, blockSize = 64))
            case 3 => (id, FlacAudio.encode(8000, 1, 24,
              pcm.map(_ << 8), blockSize = 64))
            case 4 => (id, Multimodal.WavCodec.synthesizeDepth(8000, 1, 8,
              pcm.map(_ >> 8)))
            case _ => (id, wav)
          }
        })
        .toDF("media_id", "content")
      val hashes = Multimodal.fingerprintAudio(media).toDF()
        .withColumn("block", lit("all"))
      Similarity.hammingPairs64(hashes, "media_id", "ahash", "block",
          maxHamming = 8, collapseIdentical = true)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH ${audioDepthBitsCtes()},
         |ahh AS (SELECT doc_id, array_to_string(bits, '') AS hs FROM abits),
         |ahrep AS (SELECT hs, min(doc_id) AS rep FROM ahh GROUP BY hs),
         |astars AS (
         |  SELECT r.rep AS id_a, g.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |  FROM ahh g JOIN ahrep r USING (hs) WHERE g.doc_id <> r.rep),
         |areppairs AS (
         |  SELECT p.id_a, p.id_b, CAST(p.hamming AS BIGINT) AS hamming
         |  FROM apairs p
         |  WHERE p.hamming BETWEEN 1 AND 8
         |    AND p.id_a IN (SELECT rep FROM ahrep)
         |    AND p.id_b IN (SELECT rep FROM ahrep))
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT * FROM astars UNION ALL SELECT * FROM areppairs) u
         |ORDER BY id_a, id_b""".stripMargin),

    // --- multimodal dedup RESOLUTION: the image aHash pairs (strict
    //     hamming <= 2) feed the SAME distributed component resolver
    //     used for text/embedding near-dups; every medium reduces to
    //     (id, rep) with rep = component minimum, singletons resolve
    //     to themselves. Oracle = true transitive closure (recursive
    //     CTE) over the brute-force pair definition ------------------
    Gate("q_media_dedup_resolve", (s, dir) => {
      import s.implicits._
      import graft.operators.{Dedup, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, synthBmp(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.aHashBmp(media).toDF()
        .withColumn("block", lit("all"))
      // component-preserving edges (stars for identical hashes), NOT
      // the full pair list — the oracle's transitive closure over the
      // brute-force pairs proves the components come out the same
      val edges = Similarity.hammingEdges64(hashes, "media_id", "ahash",
        "block", maxHamming = 2)
      val clusters = Dedup.clusterPairs(edges)
      media.select(col("media_id"))
        .join(clusters.withColumnRenamed("id", "media_id"),
          Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("rep"), col("media_id")).as("rep"))
        .orderBy(col("media_id"))
    },
      s"""WITH RECURSIVE ${imageBitsCtes()},
         |edges AS (
         |  SELECT id_a AS ea, id_b AS eb FROM allpairs WHERE hamming <= 2),
         |sym AS (
         |  SELECT ea AS va, eb AS vb FROM edges
         |  UNION SELECT eb, ea FROM edges),
         |reach(va, vb) AS (
         |  SELECT va, vb FROM sym
         |  UNION
         |  SELECT r.va, s.vb FROM reach r JOIN sym s ON r.vb = s.va),
         |rep AS (
         |  SELECT va AS id, least(min(vb), va) AS rep
         |  FROM reach GROUP BY va)
         |SELECT dd.doc_id AS media_id, coalesce(r.rep, dd.doc_id) AS rep
         |FROM documents dd LEFT JOIN rep r ON r.id = dd.doc_id
         |ORDER BY media_id""".stripMargin),

    // --- FLAGSHIP multimodal dedup pipeline: a mixed binary corpus
    //     (even docs carry BMPs, odd docs WAVs — both via the planted
    //     group formulas of the leg gates) goes through REAL magic-
    //     byte dispatch (sniffModality), the per-modality perceptual
    //     hash (aHash / energy-delta fingerprint), ONE banded hamming
    //     join blocked by modality, and the shared component
    //     resolver. Output = per-modality dedup accounting. Oracle
    //     replays both codecs' bits, brute-force pairs, and the true
    //     transitive closure --------------------------------------
    Gate("q_multimodal_dedup_pipeline", (s, dir) => {
      import s.implicits._
      import graft.operators.{Dedup, Multimodal}
      import graft.functions.Similarity
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, if (id % 2 == 0) synthBmp(id) else synthWav(id))))
        .toDF("media_id", "content")
      // REAL dispatch: modality comes from the bytes, not the id
      val dispatched = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          (id, c, Multimodal.sniffModality(c))
        }).toDF("media_id", "content", "modality")
      val hashes = Multimodal
        .aHashBmp(dispatched.filter(col("modality") === "image/bmp"))
        .toDF().withColumn("block", lit("image/bmp"))
        .union(Multimodal
          .fingerprintWav(dispatched.filter(col("modality") === "audio/wav"))
          .toDF().withColumn("block", lit("audio/wav")))
      val edges = Similarity.hammingEdges64(hashes, "media_id", "ahash",
        "block", maxHamming = 2)
      val clusters = Dedup.clusterPairs(edges)
      dispatched.select(col("media_id"), col("modality"))
        .join(clusters.withColumnRenamed("id", "media_id"),
          Seq("media_id"), "left")
        .groupBy(col("modality"))
        .agg(
          count(lit(1)).as("n_media"),
          count(col("rep")).as("n_clustered"),
          countDistinct(col("rep")).as("n_components"),
          (count(lit(1)) - count(col("rep")) + countDistinct(col("rep")))
            .as("n_survivors"))
        .orderBy(col("modality"))
    },
      s"""WITH RECURSIVE ${imageBitsCtes(" WHERE doc_id % 2 = 0")},
         |${audioBitsCtes(" WHERE doc_id % 2 = 1")},
         |edges AS (
         |  SELECT id_a AS ea, id_b AS eb FROM allpairs WHERE hamming <= 2
         |  UNION ALL
         |  SELECT id_a, id_b FROM apairs WHERE hamming <= 2),
         |sym AS (
         |  SELECT ea AS va, eb AS vb FROM edges
         |  UNION SELECT eb, ea FROM edges),
         |reach(va, vb) AS (
         |  SELECT va, vb FROM sym
         |  UNION
         |  SELECT r.va, s.vb FROM reach r JOIN sym s ON r.vb = s.va),
         |rep AS (
         |  SELECT va AS id, least(min(vb), va) AS rep FROM reach GROUP BY va),
         |acc AS (
         |  SELECT 'image/bmp' AS modality, b.doc_id, r.rep
         |  FROM bits b LEFT JOIN rep r ON r.id = b.doc_id
         |  UNION ALL
         |  SELECT 'audio/wav', a.doc_id, r.rep
         |  FROM abits a LEFT JOIN rep r ON r.id = a.doc_id)
         |SELECT modality,
         |  count(*) AS n_media,
         |  count(rep) AS n_clustered,
         |  count(DISTINCT rep) AS n_components,
         |  count(*) - count(rep) + count(DISTINCT rep) AS n_survivors
         |FROM acc GROUP BY modality ORDER BY modality""".stripMargin),

    // --- CROSS-FORMAT image resize (Multimodal.resizeImage): decode
    //     any lossless format to the normalized layout, 2x
    //     nearest-neighbor downsample, re-encode PNG, re-decode for
    //     stats — dims, exact mean, and the resized aHash all replay
    //     analytically from the gradient formula ---------------------
    Gate("q_image_resize", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthGradient(id))))
        .toDF("media_id", "content")
      Multimodal.resizeImage(media, outW = 32, outH = 24).toDF()
        .select(col("media_id"), col("src_modality"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"))
    },
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id // 25) % 3 AS f
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |feat AS (
        |  SELECT doc_id, f,
        |    list_sum(list_transform(range(0, 768), i ->
        |      13 + (doc_id * 7 + (i % 32) * 2 * 3 + (i // 32) * 2 * 5) % 241)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      3 * (13 + (doc_id * 7 + 8 * (j % 8) * 3 + 6 * (j // 8) * 5) % 241)) AS lum
        |  FROM imgs)
        |SELECT doc_id AS media_id,
        |  CASE f WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
        |         ELSE 'image/bmp' END AS src_modality,
        |  CAST(32 AS BIGINT) AS width, CAST(24 AS BIGINT) AS height,
        |  CAST(sv AS DOUBLE) / 768 AS mean_intensity,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id""".stripMargin),

    // --- CROSS-FORMAT image near-dup: the same logical image stored
    //     as PNG / GIF / JPEG / BMP must hash IDENTICALLY through
    //     aHashAuto's format-normalized decode, so dedup finds copies
    //     that byte- or single-format hashing cannot; perturbed group
    //     members land at small hamming. Oracle brute-forces the pair
    //     definition from the shared content formula ------------------
    Gate("q_crossformat_neardup", (s, dir) => {
      import s.implicits._
      import graft.functions.Similarity
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthCrossformat(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.aHashAuto(media).toDF()
        .withColumn("block", lit("all"))
      Similarity.hammingPairs64(hashes, "media_id", "ahash", "block",
          maxHamming = 8, collapseIdentical = false)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id // 25) % 5 AS g,
        |    ((doc_id // 25) // 2) % 2 = 1 AS pert
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |bits AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    3 * (CASE WHEN pert AND ((j % 8) // 2) = 0
        |              AND ((6 * (j // 8)) // 16) = 0
        |         THEN 240 - (20 + (g * 53) % 200)
        |         ELSE 20 + (g * 53 + ((j % 8) // 2) * 37
        |              + ((6 * (j // 8)) // 16) * 73) % 200 END)) AS lum
        |  FROM imgs),
        |hb AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END) AS b
        |  FROM bits),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN a.b[j + 1] <> b.b[j + 1] THEN 1 ELSE 0 END)) AS hamming
        |  FROM hb a JOIN hb b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs
        |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin),

    // --- REAL animated-GIF decode (GifCodec): count-bounded fixtures
    //     (20 GIFs at every SF, 2-4 frames each, half interlaced),
    //     LZW-decoded and disposal-composited on executors; GIF is
    //     lossless so the oracle replays every frame's dims, exact
    //     mean, and 64-bit aHash analytically ------------------------
    Gate("q_gif_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthGif(id))))
        .toDF("media_id", "content")
      Multimodal.decodeGifFrames(media).toDF()
        .select(col("media_id"),
          col("frame_no").cast("long").as("frame_no"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("delay_cs").cast("long").as("delay_cs"),
          col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"), col("frame_no"))
    },
      """WITH gifs AS (
        |  SELECT doc_id, CAST(2 + (doc_id // 25) % 3 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |fr AS (
        |  SELECT doc_id, nf, unnest(range(0, nf)) AS frame_no FROM gifs),
        |feat AS (
        |  SELECT doc_id, nf, frame_no,
        |    list_sum(list_transform(range(0, 12), b ->
        |      18 + (doc_id * 37 + frame_no * 23 + (b % 4) * 41 + (b // 4) * 67) % 229)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      3 * (18 + (doc_id * 37 + frame_no * 23 + ((j % 8) // 2) * 41
        |           + ((6 * (j // 8)) // 16) * 67) % 229)) AS lum
        |  FROM fr)
        |SELECT doc_id AS media_id, frame_no, nf AS n_frames,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(10 AS BIGINT) AS delay_cs,
        |  CAST(256 * sv AS DOUBLE) / 3072 AS mean_intensity,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id, frame_no""".stripMargin),

    // --- REAL PNG decode (PngCodec): count-bounded fixtures (20
    //     images at every SF, gray and RGB, adaptive-filtered), each
    //     CRC-checked, inflated, unfiltered and hashed on executors;
    //     PNG is lossless so the oracle replays dims, exact channel
    //     sums, IEEE mean division, and the 64-bit aHash analytically -
    Gate("q_png_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthPng(id))))
        .toDF("media_id", "content")
      Multimodal.decodePng(media).toDF()
        .join(Multimodal.aHashPng(media).toDF(), "media_id")
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bit_depth").cast("long").as("bit_depth"),
          col("color_type").cast("long").as("color_type"),
          col("n_pixels"), col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"))
    },
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id // 25) % 2 = 0 AS gray
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |feat AS (
        |  SELECT doc_id, gray,
        |    list_sum(list_transform(range(0, 12), b ->
        |      CASE WHEN gray
        |        THEN 13 + (doc_id * 29 + (b % 4) * 43 + (b // 4) * 61) % 223
        |        ELSE 13 + (doc_id * 29 + (b % 4) * 43 + (b // 4) * 61) % 223
        |           + 13 + (doc_id * 29 + 53 + (b % 4) * 43 + (b // 4) * 61) % 223
        |           + 13 + (doc_id * 29 + 106 + (b % 4) * 43 + (b // 4) * 61) % 223
        |      END)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      CASE WHEN gray
        |        THEN 3 * (13 + (doc_id * 29 + ((j % 8) // 2) * 43
        |             + ((6 * (j // 8)) // 16) * 61) % 223)
        |        ELSE 13 + (doc_id * 29 + ((j % 8) // 2) * 43
        |             + ((6 * (j // 8)) // 16) * 61) % 223
        |           + 13 + (doc_id * 29 + 53 + ((j % 8) // 2) * 43
        |             + ((6 * (j // 8)) // 16) * 61) % 223
        |           + 13 + (doc_id * 29 + 106 + ((j % 8) // 2) * 43
        |             + ((6 * (j // 8)) // 16) * 61) % 223
        |      END) AS lum
        |  FROM imgs)
        |SELECT doc_id AS media_id, CAST(64 AS BIGINT) AS width,
        |  CAST(48 AS BIGINT) AS height, CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(CASE WHEN gray THEN 0 ELSE 2 END AS BIGINT) AS color_type,
        |  CAST(3072 AS BIGINT) AS n_pixels,
        |  CAST(256 * sv AS DOUBLE) /
        |    (CASE WHEN gray THEN 3072 ELSE 9216 END) AS mean_intensity,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id""".stripMargin),

    // --- REAL video frame decode (AviCodec + JpegCodec + MjpegVideo):
    //     count-bounded MJPEG fixtures (20 videos at every SF), every
    //     2nd frame container-extracted and fully JPEG-decoded
    //     (Huffman, dequant, IDCT, 4:2:0 upsample, YCbCr->RGB) on
    //     executors. The oracle replays per-frame channel sums, IEEE
    //     mean division, and the 64-bit aHash from the block formula -
    Gate("q_frame_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.MjpegVideo
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthAvi(id))))
        .toDF("media_id", "content")
      MjpegVideo.decodeFrames(media, everyN = 2).toDF()
        .select(col("media_id"),
          col("frame_no").cast("long").as("frame_no"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"), col("frame_no"))
    },
      """WITH vids AS (
        |  SELECT doc_id, CAST(4 + (doc_id // 25) % 3 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |fr AS (
        |  SELECT doc_id, nf, unnest(range(0, nf, 2)) AS frame_no FROM vids),
        |feat AS (
        |  SELECT doc_id, nf, frame_no,
        |    list_sum(list_transform(range(0, 12), b ->
        |      22 + (doc_id * 31 + frame_no * 17 + (b % 4) * 41 + (b // 4) * 59) % 211)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      3 * (22 + (doc_id * 31 + frame_no * 17
        |           + ((j % 8) // 2) * 41 + ((6 * (j // 8)) // 16) * 59) % 211)) AS lum
        |  FROM fr)
        |SELECT doc_id AS media_id, frame_no, nf AS n_frames,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(768 * sv AS DOUBLE) / 9216 AS mean_intensity,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id, frame_no""".stripMargin),

    // --- video near-dup through the decoded-frame hashes: group-keyed
    //     MJPEG content (4 videos per group, odd videos perturb one
    //     block of frame 1), frame aHashes -> banded hamming pairs ->
    //     min distance per cross-video pair. The oracle brute-forces
    //     the pair definition from the same formula ------------------
    Gate("q_video_neardup", (s, dir) => {
      import s.implicits._
      import graft.functions.Similarity
      import graft.operators.MjpegVideo
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthNeardupAvi(id))))
        .toDF("media_id", "content")
      val hashes = MjpegVideo.frameHashes(media, everyN = 1)
        .withColumn("fid", col("media_id") * 1000 + col("frame_no"))
        .withColumn("block", lit("all"))
      // enumerate every qualifying cross-video frame pair (the oracle
      // IS the brute-force definition; the collapsed star shape is the
      // scale path, gated in q_image_neardup/q_media_dedup_resolve)
      Similarity.hammingPairs64(hashes, "fid", "ahash", "block",
          maxHamming = 6, collapseIdentical = false)
        .select(expr("id_a div 1000").as("va"),
          expr("id_a % 1000").cast("long").as("fa"),
          expr("id_b div 1000").as("vb"),
          expr("id_b % 1000").cast("long").as("fb"),
          col("hamming").cast("long").as("hamming"))
        .filter(col("va") =!= col("vb"))
        .orderBy(col("va"), col("fa"), col("vb"), col("fb"))
    },
      """WITH vids AS (
        |  SELECT doc_id, (doc_id // 25) % 5 AS g, (doc_id // 25) % 2 = 1 AS pert
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |fr AS (
        |  SELECT doc_id, g, pert, unnest(range(0, 3)) AS f FROM vids),
        |bits AS (
        |  SELECT doc_id, f, list_transform(range(0, 64), j ->
        |    3 * (25 + (g * 37 + f * 13 + ((j % 8) // 2) * 47
        |         + ((6 * (j // 8)) // 16) * 71) % 199
        |       + CASE WHEN pert AND f = 1 AND ((j % 8) // 2) = 0
        |              AND ((6 * (j // 8)) // 16) = 0 THEN 30 ELSE 0 END)) AS lum
        |  FROM fr),
        |hb AS (
        |  SELECT doc_id, f, list_transform(range(0, 64), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END) AS b
        |  FROM bits)
        |,fpairs AS (
        |  SELECT a.doc_id AS va, a.f AS fa, b.doc_id AS vb, b.f AS fb,
        |    list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN a.b[j + 1] <> b.b[j + 1] THEN 1 ELSE 0 END)) AS hamming
        |  FROM hb a JOIN hb b ON a.doc_id < b.doc_id)
        |SELECT va, fa, vb, fb, CAST(hamming AS BIGINT) AS hamming FROM fpairs
        |WHERE hamming <= 6 ORDER BY va, fa, vb, fb""".stripMargin),

    // --- ZIP container round-trip (ZipCodec): docs packed 5-per-
    //     archive through the central-directory writer, extracted
    //     back via the CD walker with CRC verification — the third
    //     archive container (tar, warc, zip). Oracle replays names/
    //     sizes/text directly -----------------------------------------
    Gate("q_zip_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.ZipCodec
      val archives = t(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 5)
        .mapGroups { (fid, docs) =>
          val ms = docs.toSeq.sortBy(_._1).map { case (id, text) =>
            f"docs/$id%012d.txt" ->
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          (fid, ZipCodec.write(ms))
        }
        .toDF("media_id", "content")
      archives.as[(Long, Array[Byte])]
        .flatMap { case (id, c) =>
          ZipCodec.parse(id, c).map { case (name, data) =>
            (id, name, data.length.toLong,
              new String(data, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        .toDF("media_id", "member", "n_bytes", "text")
        .orderBy(col("media_id"), col("member"))
    },
      """SELECT doc_id // 5 AS media_id,
        |  'docs/' || printf('%012d.txt', doc_id) AS member,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  coalesce(text, '') AS text
        |FROM documents WHERE doc_id < 250
        |ORDER BY media_id, member""".stripMargin),

    // --- REAL pHash: 20 synthesized 64x64 BMPs decoded pixel-by-pixel,
    //     box-summed to 32x32, quantized-integer DCT, median-threshold
    //     bits; the oracle repeats the transform with the shared table
    Gate("q_phash", (s, dir) => {
      operators.Multimodal.phashBmp(phashMedia(s, dir, phashBlockVal)).toDF()
        .select(col("media_id"),
          lpad(bin(col("phash")), 64, "0").as("phash_bits"))
        .orderBy("media_id")
    },
      s"""WITH ${phashOracleCte(PhashVal)}
         |SELECT doc_id AS media_id,
         |  array_to_string(list_transform(range(0, 64), i ->
         |    CASE WHEN i >= 1 AND fv[i + 1] > med THEN 1 ELSE 0 END), '') AS phash_bits
         |FROM bits ORDER BY media_id""".stripMargin),

    // --- pHash near-dup: group-keyed content (copies → hamming 0),
    //     uniform re-grade on odd images (tiny hamming), banded
    //     hamming join; oracle brute-forces the pair definition ------
    Gate("q_phash_neardup", (s, dir) => {
      val hashes = operators.Multimodal
        .phashBmp(phashMedia(s, dir, phashNeardupVal)).toDF()
        .withColumn("block", lit("all"))
      functions.Similarity.hammingPairs64(hashes, "media_id", "phash", "block",
          maxHamming = 10, collapseIdentical = false)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH ${phashOracleCte(PhashNeardupVal)},
         |hb AS (SELECT doc_id, list_transform(range(0, 64), i ->
         |    CASE WHEN i >= 1 AND fv[i + 1] > med THEN 1 ELSE 0 END) AS b
         |  FROM bits),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(list_sum(list_transform(range(0, 64), i ->
         |      CASE WHEN a.b[i + 1] <> b.b[i + 1] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
         |  FROM hb a JOIN hb b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 10 ORDER BY id_a, id_b""".stripMargin),

    // --- REAL animated-WebP decode (WebpCodec.decodeAnim): ANMF
    //     sub-rect frames composited on executors (overwrite blend,
    //     even-aligned rects); lossless, so the oracle replays every
    //     composited frame's exact mean and 64-bit aHash by scanning
    //     for each block's LAST painter ---------------------------------
    Gate("q_webp_anim", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthAnimWebp(id))))
        .toDF("media_id", "content")
      Multimodal.decodeWebpAnimFrames(media).toDF()
        .select(col("media_id"),
          col("frame_no").cast("long").as("frame_no"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("duration_ms").cast("long").as("duration_ms"),
          col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"), col("frame_no"))
    }, {
      // value of block (bx, by) in composited frame f: the LAST
      // painter's value (frame 0 = base), found by scanning painters
      def vat(bx: String, by: String): String =
        s"9 + (doc_id * 23 + coalesce(list_max(list_filter(range(1, f + 1)," +
          s" x -> ((x * 7 + doc_id // 25) % 4) = ($bx)" +
          s" AND ((x * 11) % 3) = ($by))), 0) * 29" +
          s" + ($bx) * 31 + ($by) * 61) % 233"
      s"""WITH anims AS (
         |  SELECT doc_id, CAST(2 + (doc_id // 25) % 3 AS BIGINT) AS nf
         |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
         |fr AS (SELECT doc_id, nf, unnest(range(0, nf)) AS f FROM anims),
         |feat AS (
         |  SELECT doc_id, nf, f,
         |    list_sum(list_transform(range(0, 12), b ->
         |      ${vat("b % 4", "b // 4")})) AS sv,
         |    list_transform(range(0, 64), j ->
         |      3 * (${vat("(j % 8) // 2", "(6 * (j // 8)) // 16")})) AS lum
         |  FROM fr)
         |SELECT doc_id AS media_id, f AS frame_no, nf AS n_frames,
         |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
         |  CAST(40 + 10 * f AS BIGINT) AS duration_ms,
         |  CAST(256 * sv AS DOUBLE) / 3072 AS mean_intensity,
         |  array_to_string(list_transform(range(63, -1, -1), j ->
         |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
         |    AS ahash_bits
         |FROM feat ORDER BY media_id, frame_no""".stripMargin
    }),

    // --- REAL lossy WebP (VP8 keyframe) decode (Vp8 via WebpCodec):
    //     committed libwebp-encoded fixtures (segmentation, token
    //     partitions, loop filter all exercised — Scala cannot encode
    //     VP8, so fixtures are checked-in bytes) fully decoded on
    //     executors; the oracle's plane sums are LIBWEBP's own
    //     WebPDecodeYUV output pinned at fixture-generation time, so
    //     a green row == byte-exact independent ground truth ----------
    Gate("q_webp_lossy", (s, dir) => {
      import s.implicits._
      val fixtures = (0 until 6).map { i =>
        val in = getClass.getResourceAsStream(s"/graft/vp8/fixture_$i.webp")
        require(in != null, s"missing vp8 fixture $i")
        val bytes = in.readAllBytes(); in.close()
        (i.toLong, bytes)
      }
      fixtures.toDF("fixture_id", "content")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          val f = graft.operators.WebpCodec.decodeYuv(id, c)
          def sum(a: Array[Byte]): Long = {
            var t = 0L
            var i = 0
            while (i < a.length) { t += (a(i) & 0xff); i += 1 }
            t
          }
          (id, f.width.toLong, f.height.toLong, sum(f.y), sum(f.u), sum(f.v))
        })
        .toDF("fixture_id", "width", "height", "y_sum", "u_sum", "v_sum")
        .orderBy(col("fixture_id"))
    }, """
      SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(64 AS BIGINT), CAST(48 AS BIGINT),
         CAST(383870 AS BIGINT), CAST(98486 AS BIGINT), CAST(98188 AS BIGINT)),
        (1, 48, 48, 289635, 73795, 74670),
        (2, 80, 64, 631232, 163840, 163840),
        (3, 33, 17, 70244, 19270, 19424),
        (4, 96, 80, 965635, 244451, 246056),
        (5, 56, 40, 284608, 71680, 71680))
        AS t(fixture_id, width, height, y_sum, u_sum, v_sum)
      ORDER BY fixture_id
    """),

    // --- REAL WebP (VP8L lossless) decode (WebpCodec): count-bounded
    //     fixtures (20 images at every SF) sniffed and routed through
    //     the SAME decodeAuto/aHashAuto dispatch as the other image
    //     formats (the codec itself is interop-pinned against the
    //     system libwebp in WebpSpec, transforms and all); VP8L is
    //     lossless so the oracle replays dims, exact channel sums,
    //     IEEE mean division, and the 64-bit aHash analytically --------
    Gate("q_webp_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthWebp(id))))
        .toDF("media_id", "content")
      Multimodal.decodeAuto(media).toDF()
        .join(Multimodal.aHashAuto(media).toDF()
          .select(col("media_id"), col("ahash")), Seq("media_id"))
        .select(col("media_id"), col("modality"),
          col("n_units"), col("mean_val"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"))
    },
      """WITH imgs AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |feat AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 36), k ->
        |      11 + (doc_id * 31 + (k % 3) * 59 + ((k // 3) % 4) * 47
        |         + (k // 12) * 71) % 227)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      11 + (doc_id * 31 + ((j % 8) // 2) * 47
        |         + ((6 * (j // 8)) // 16) * 71) % 227
        |      + 11 + (doc_id * 31 + 59 + ((j % 8) // 2) * 47
        |         + ((6 * (j // 8)) // 16) * 71) % 227
        |      + 11 + (doc_id * 31 + 118 + ((j % 8) // 2) * 47
        |         + ((6 * (j // 8)) // 16) * 71) % 227) AS lum
        |  FROM imgs)
        |SELECT doc_id AS media_id, 'image/webp' AS modality,
        |  CAST(3072 AS BIGINT) AS n_units,
        |  CAST(256 * sv AS DOUBLE) / 9216 AS mean_val,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id""".stripMargin),

    // --- zstd ingestion: documents packed 10-per-file as
    //     "id\ttext" lines, zstd-compressed (zstd-jni — the codec on
    //     every Spark executor), then ingested back through the
    //     ZstdDecompress expression + line/field splits. The
    //     round-trip must be lossless; CLI interop is pinned in
    //     ZstdSpec against the system zstd binary ---------------------
    Gate("q_zstd_ingest", (s, dir) => {
      import s.implicits._
      import graft.functions.{ZstdBytes, ZstdDecompress}
      val packed = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 10)
        .mapGroups { (fid, it) =>
          val lines = it.toSeq.sortBy(_._1)
            .map { case (id, text) => s"$id\t$text" }.mkString("\n")
          (fid, ZstdBytes.compress(
            lines.getBytes(java.nio.charset.StandardCharsets.UTF_8), 3))
        }
        .toDF("file_id", "content")
      packed
        .select(explode(split(ZstdDecompress(col("content")).cast("string"),
          "\n")).as("line"))
        .select(
          split(col("line"), "\t").getItem(0).cast("long").as("doc_id"),
          split(col("line"), "\t").getItem(1).as("text"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
      ORDER BY doc_id
    """),

    // --- PDF text extraction (PdfText over PdfCodec): each doc's text
    //     is typeset into a REAL PDF — variant doc%3 rotates classic
    //     xref / Flate+Differences+TJ-kern / xref-stream+ObjStm+Type0
    //     structures, 8 words per line, 6 lines per page — and the
    //     extractor must recover the text exactly (line/page breaks
    //     map back to the spaces they replaced). The oracle replays
    //     the page arithmetic and asserts the round-trip against the
    //     source column; real-world interop is pinned by PdfSpec's
    //     system-PDF fixtures -------------------------------------
    Gate("q_pdf_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.{Multimodal, PdfWriter}
      val media = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0 && col("doc_id") < 500)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, txt) =>
          (id, PdfWriter.write(id,
            PdfWriter.layout(txt, perLine = 8, linesPerPage = 6),
            (id % 3).toInt))
        })
        .toDF("media_id", "content")
      Multimodal.extractPdfText(media).toDF()
        .select(col("media_id"), col("n_pages"), col("n_chars"),
          regexp_replace(col("text"), "\n", " ").as("text"))
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500)
        |SELECT doc_id AS media_id,
        |  CAST(ceil(ceil(len(string_split(t, ' ')) / 8.0) / 6.0) AS BIGINT)
        |    AS n_pages,
        |  CAST(len(t) AS BIGINT) AS n_chars,
        |  t AS text
        |FROM d ORDER BY media_id""".stripMargin),

    // --- FLAGSHIP document pipeline: one logical corpus stored as a
    //     MIX of plain text / HTML / real PDFs (groups of 3 ids share
    //     the leader's text) -> magic-byte dispatch + extraction ->
    //     cross-format exact dedup (min-id survivor per fingerprint)
    //     -> token/char stats -> ShardedTable publish -> Iceberg v2
    //     mirror -> read back THROUGH THE ICEBERG METADATA ONLY. The
    //     oracle replays the whole chain from the source table --------
    Gate("q_document_pipeline", (s, dir) => {
      import s.implicits._
      import graft.functions.Text
      import graft.operators.{Multimodal, PdfText, PdfWriter}
      import graft.sink.{IcebergMeta, ShardedTable}
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
      val extracted = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          Multimodal.sniffModality(c) match {
            case "application/pdf" =>
              (id, PdfText.extract(id, c).text.replace('\n', ' '))
            case _ => (id,
              new String(c, java.nio.charset.StandardCharsets.UTF_8))
          }
        }).toDF("media_id", "raw")
        .select(col("media_id"), Text.stripHtml(col("raw")).as("clean"))
      val survivors = extracted
        .groupBy(Text.fingerprint(col("clean")).as("fp"))
        .agg(min(col("media_id")).as("doc_id"),
          count(lit(1)).as("n_copies"),
          // min, not first: deterministic by construction — though
          // the group key IS fingerprint(clean), so every value in
          // the group is byte-identical, min makes that explicit
          min(col("clean")).as("clean"))
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(4)).cast("long").as("shard"),
          col("n_copies"),
          Text.tokenCount(col("clean")).cast("long").as("n_tokens"),
          length(col("clean")).cast("long").as("clean_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_docpipe").toString
      val table = new ShardedTable(s"$tmp/t", "shard",
        s.sparkContext.hadoopConfiguration)
      val v = table.commit(survivors, touched = Seq("0", "1", "2", "3"))
      IcebergMeta.mirror(s, table, v)
      IcebergMeta.read(s, s"$tmp/t")
        .select(col("doc_id"), col("shard"), col("n_copies"),
          col("n_tokens"), col("clean_chars"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 300),
        |m AS (
        |  SELECT a.doc_id AS media_id, l.t AS lt
        |  FROM d a JOIN d l ON l.doc_id = a.doc_id - a.doc_id % 3),
        |surv AS (
        |  SELECT min(media_id) AS doc_id, count(*) AS n_copies, lt
        |  FROM m GROUP BY lt)
        |SELECT doc_id, doc_id % 4 AS shard,
        |  CAST(n_copies AS BIGINT) AS n_copies,
        |  CAST(len(list_filter(string_split(lt, ' '),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(lt) AS BIGINT) AS clean_chars
        |FROM surv ORDER BY doc_id""".stripMargin),

    // --- MP3 container probe: ID3v2 skip + MPEG-1/2 Layer-III frame
    //     walk (bitrate/samplerate tables, padding-aware frame
    //     sizing) — compressed-audio corpus accounting without MDCT
    //     decode, the Mp4Codec contract. All header arithmetic
    //     replays in SQL from the fixture parameters ----------------
    Gate("q_mp3_probe", (s, dir) => {
      import s.implicits._
      import graft.operators.Mp3Codec
      t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map { id =>
          val k = id / 25
          val bytes = Mp3Codec.synthesize(
            nFrames = (10 + k % 7).toInt,
            brIdx = (1 + k % 14).toInt,
            srIdx = ((k / 2) % 3).toInt,
            mpeg1 = k % 2 == 0,
            id3Bytes = if (k % 3 == 0) (50 + k).toInt else 0)
          val f = Mp3Codec.parse(id, bytes)
          (id, f.nFrames.toLong, f.bitrateKbps.toLong,
            f.sampleRate.toLong, f.samplesPerFrame.toLong,
            f.durationMs, f.hasId3)
        })
        .toDF("media_id", "n_frames", "bitrate_kbps", "sample_rate",
          "samples_per_frame", "duration_ms", "has_id3")
        .orderBy(col("media_id"))
    },
      """WITH p AS (
        |  SELECT doc_id, doc_id // 25 AS k
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |f AS (
        |  SELECT doc_id, k,
        |    10 + k % 7 AS n_frames,
        |    k % 2 = 0 AS mpeg1,
        |    1 + k % 14 AS br_idx,
        |    (k // 2) % 3 AS sr_idx
        |  FROM p),
        |g AS (
        |  SELECT doc_id, n_frames,
        |    CASE WHEN mpeg1
        |      THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320][br_idx]
        |      ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][br_idx]
        |    END AS bitrate_kbps,
        |    CASE WHEN mpeg1 THEN [44100,48000,32000][sr_idx + 1]
        |         ELSE [22050,24000,16000][sr_idx + 1] END AS sample_rate,
        |    CASE WHEN mpeg1 THEN 1152 ELSE 576 END AS spf,
        |    (doc_id // 25) % 3 = 0 AS has_id3
        |  FROM f)
        |SELECT doc_id AS media_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(bitrate_kbps AS BIGINT) AS bitrate_kbps,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(spf AS BIGINT) AS samples_per_frame,
        |  CAST(n_frames * spf * 1000 // sample_rate AS BIGINT) AS duration_ms,
        |  has_id3
        |FROM g ORDER BY media_id""".stripMargin),

    // --- FLAC STREAMINFO probe: the mandatory first metadata block's
    //     bit layout (20-bit sample rate straddling byte boundaries,
    //     36-bit total samples, the signature MD5) ------------------
    Gate("q_flac_probe", (s, dir) => {
      import s.implicits._
      import graft.operators.FlacCodec
      t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map { id =>
          val k = id / 25
          val rates = Array(8000, 16000, 22050, 32000, 44100, 48000)
          val bytes = FlacCodec.synthesize(
            sampleRate = rates((k % 6).toInt),
            channels = (1 + k % 4).toInt,
            bps = if (k % 2 == 0) 16 else 24,
            totalSamples = 1000 + k * 977,
            md5 = Array.tabulate(16)(i => ((k * 31 + i) % 256).toByte))
          val f = FlacCodec.parse(id, bytes)
          (id, f.sampleRate.toLong, f.channels.toLong,
            f.bitsPerSample.toLong, f.totalSamples, f.durationMs, f.md5Hex)
        })
        .toDF("media_id", "sample_rate", "channels", "bits_per_sample",
          "total_samples", "duration_ms", "md5_hex")
        .orderBy(col("media_id"))
    },
      """WITH p AS (
        |  SELECT doc_id, doc_id // 25 AS k
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |f AS (
        |  SELECT doc_id, k,
        |    [8000,16000,22050,32000,44100,48000][CAST(k % 6 AS INT) + 1]
        |      AS sample_rate,
        |    1 + k % 4 AS channels,
        |    CASE WHEN k % 2 = 0 THEN 16 ELSE 24 END AS bits_per_sample,
        |    1000 + k * 977 AS total_samples
        |  FROM p)
        |SELECT doc_id AS media_id, CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(bits_per_sample AS BIGINT) AS bits_per_sample,
        |  CAST(total_samples AS BIGINT) AS total_samples,
        |  CAST(total_samples * 1000 // sample_rate AS BIGINT) AS duration_ms,
        |  array_to_string(list_transform(range(0, 16),
        |    i -> printf('%02x', (k * 31 + i) % 256)), '') AS md5_hex
        |FROM f ORDER BY media_id""".stripMargin),

    // --- CROSS-FORMAT TEXT dedup (the q_crossformat_neardup story in
    //     the text domain): one logical document stored as plain text
    //     / HTML / a real PDF must collapse to ONE fingerprint after
    //     sniff-dispatched extraction + normalization — byte-level
    //     dedup can never see these copies. Groups of 3 consecutive
    //     ids share the leader's text in three containers. The oracle
    //     fingerprints the leader text directly -----------------------
    Gate("q_crossformat_textdedup", (s, dir) => {
      import s.implicits._
      import graft.functions.Text
      import graft.operators.{EpubText, Multimodal, OfficeText, PdfText, PdfWriter}
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
              case 1 =>
                // alternate the HTML serialization with an EPUB book
                // carrying the same text (extraction is lossless, so
                // the fingerprint — and the oracle — are unchanged)
                if (g % 2 == 1)
                  EpubText.write(s"Book $g", Seq((s"c$g", Seq(leaderText))))
                else s"<html>$leaderText</html>".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)
              case _ => PdfWriter.write(id,
                PdfWriter.layout(leaderText, perLine = 8, linesPerPage = 6),
                (g % 3).toInt)
            }
            (id, bytes)
          }
        }.toDF("media_id", "content")
      val extracted = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          Multimodal.sniffModality(c) match {
            case "application/pdf" =>
              (id, PdfText.extract(id, c).text.replace('\n', ' '))
            case "application/zip" =>
              (id, OfficeText.extract(id, c).text.replace('\n', ' '))
            case _ => (id,
              new String(c, java.nio.charset.StandardCharsets.UTF_8))
          }
        }).toDF("media_id", "raw")
      extracted
        .select(col("media_id"), Text.stripHtml(col("raw")).as("clean"))
        .groupBy(Text.fingerprint(col("clean")).as("fingerprint"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
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
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- EXIF orientation normalization: JPEGs stored under all 8
    //     EXIF orientations (pixels physically counter-transformed,
    //     APP1 spliced in both TIFF byte orders, o=1 sometimes with
    //     no Exif at all) must decode through aHashAuto to the SAME
    //     upright hash — rotated duplicates stop defeating perceptual
    //     dedup. The oracle replays the UPRIGHT image's hash from the
    //     block formula, which no orientation may perturb ------------
    Gate("q_exif_orient", (s, dir) => {
      import s.implicits._
      import graft.operators.{JpegCodec, Multimodal}
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthExifJpeg(id))))
        .toDF("media_id", "content")
      // the planted orientation read back from the real container
      // bytes (JPEG APP1 or WebP EXIF chunk, both byte orders) and
      // the hash through the shared normalized decode
      val withO = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          val o = Multimodal.sniffModality(c) match {
            case "image/webp" => graft.operators.WebpCodec
              .exifOrientation(id, c)
            case _ => JpegCodec.exifOrientation(id, c)
          }
          (id, o.toLong)
        }).toDF("media_id", "exif_orientation")
      val hashes = Multimodal.aHashAuto(media).toDF()
      withO.join(hashes, "media_id")
        .select(col("media_id"), col("exif_orientation"), col("modality"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"))
    },
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id // 25) % 5 AS g,
        |    1 + (doc_id // 25) % 8 AS o
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |lum AS (
        |  SELECT doc_id, o, list_transform(range(0, 64), j ->
        |    3 * (16 + (g * 47 + ((j % 8) // 2) * 31
        |         + ((6 * (j // 8)) // 16) * 67) % 224)) AS lum
        |  FROM imgs)
        |SELECT doc_id AS media_id, CAST(o AS BIGINT) AS exif_orientation,
        |  CASE WHEN (doc_id // 25) % 4 = 3 THEN 'image/webp'
        |       ELSE 'image/jpeg' END AS modality,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM lum ORDER BY media_id""".stripMargin),

    // --- REAL multi-page TIFF decode (TiffCodec): count-bounded
    //     fixtures (20 documents at every SF, 1-3 pages each) across
    //     none/LZW+predictor/Deflate/PackBits and both byte orders,
    //     strip-walked and fully decoded on executors; TIFF is
    //     lossless so the oracle replays per-page dims, exact mean
    //     and the 64-bit aHash analytically. CCITT fax + tiles are
    //     pinned against libtiff-encoded fixtures in TiffSpec --------
    Gate("q_tiff_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map(id => (id, synthTiff(id))))
        .toDF("media_id", "content")
      Multimodal.decodeTiffPages(media).toDF()
        .select(col("media_id"),
          col("page_no").cast("long").as("page_no"),
          col("n_pages").cast("long").as("n_pages"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("mean_intensity"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"), col("page_no"))
    },
      """WITH tiffs AS (
        |  SELECT doc_id, CAST(1 + (doc_id // 25) % 3 AS BIGINT) AS np
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |pg AS (
        |  SELECT doc_id, np, unnest(range(0, np)) AS page_no FROM tiffs),
        |feat AS (
        |  SELECT doc_id, np, page_no,
        |    list_sum(list_transform(range(0, 12), b ->
        |      15 + (doc_id * 41 + page_no * 29 + (b % 4) * 37 + (b // 4) * 71) % 227)) AS sv,
        |    list_transform(range(0, 64), j ->
        |      3 * (15 + (doc_id * 41 + page_no * 29 + ((j % 8) // 2) * 37
        |           + ((6 * (j // 8)) // 16) * 71) % 227)) AS lum
        |  FROM pg)
        |SELECT doc_id AS media_id, page_no, np AS n_pages,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(256 * sv AS DOUBLE) / 3072 AS mean_intensity,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM feat ORDER BY media_id, page_no""".stripMargin),

    // --- REAL DOCX/ODT text extraction (OfficeText): each document's
    //     normalized text chunked into 8-word paragraphs and written
    //     as a genuine office container (ZIP + WordprocessingML /
    //     OpenDocument XML, runs split mid-sentence, proofErr/rsid
    //     noise), then container-classified and StAX-extracted on
    //     executors. The oracle recomputes paragraph count and the
    //     reassembled text from documents.text alone ----------------
    Gate("q_docx_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.{OfficeText, RtfText}
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 2 && col("doc_id") < 500)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .as[(Long, String)]
      val out = docs.mapPartitions(_.map { case (id, txt) =>
        val words = txt.split(" ", -1)
        val paras = words.grouped(8).map(_.mkString(" ")).toSeq
        val (kind, text) = id % 3 match {
          case 0 =>
            val d = OfficeText.extract(id, OfficeText.writeDocx(paras, salt = id))
            (d.kind, d.text)
          case 1 =>
            val d = OfficeText.extract(id, OfficeText.writeOdt(paras, salt = id))
            (d.kind, d.text)
          case _ =>
            ("rtf", RtfText.extract(id, RtfText.write(paras)))
        }
        (id, kind, text.split("\n", -1).length.toLong,
          text.replace('\n', ' '))
      }).toDF("doc_id", "kind", "n_paragraphs", "text")
      out.select(col("doc_id"), col("kind"), col("n_paragraphs"),
          length(col("text")).cast("long").as("n_chars"), col("text"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 5 = 2 AND doc_id < 500)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'docx' WHEN 1 THEN 'odt'
        |       ELSE 'rtf' END AS kind,
        |  CAST(ceil(len(string_split(t, ' ')) / 8.0) AS BIGINT)
        |    AS n_paragraphs,
        |  CAST(len(t) AS BIGINT) AS n_chars,
        |  t AS text
        |FROM d ORDER BY doc_id""".stripMargin),

    // --- .tar.bz2 ingest (Bzip2Codec + TarCodec): documents packed
    //     10-per-shard into a ustar archive, bzip2-compressed with
    //     OUR encoder, then the ingest chain decompresses (CRCs
    //     verified), walks the tar and reassembles every document —
    //     the legacy corpus-drop shape. Oracle = the plain documents
    //     table; bzip2 is lossless so the chain must be exact --------
    Gate("q_bzip2_ingest", (s, dir) => {
      import s.implicits._
      import graft.operators.{Bzip2Codec, TarCodec}
      val packed = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 10)
        .mapGroups { (fid, it) =>
          val members = it.toSeq.sortBy(_._1).map { case (id, text) =>
            s"docs/$id.txt" -> text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          (fid, Bzip2Codec.compress(TarCodec.write(members)))
        }
        .toDF("file_id", "content")
      packed.as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (fid, bz) =>
          val tar = Bzip2Codec.decompress(fid, bz)
          TarCodec.parse(fid, tar).iterator.map { case (name, data) =>
            val id = name.stripPrefix("docs/").stripSuffix(".txt").toLong
            (id, new String(data, java.nio.charset.StandardCharsets.UTF_8))
          }
        })
        .toDF("doc_id", "text")
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
      ORDER BY doc_id
    """),

    // --- FLAGSHIP mixed corpus drop: documents serialized across SIX
    //     formats (HTML / PDF / DOCX / ODT / RTF / plain), packed
    //     12-per-shard into .tar.bz2 archives (our bzip2 + ustar
    //     writers), then the ingest chain runs decompress -> tar walk
    //     -> magic-byte sniff -> per-format extraction and every
    //     document's text comes out EXACTLY equal to the source
    //     column. One gate proving the whole document tier composes --
    Gate("q_mixed_corpus_drop", (s, dir) => {
      import s.implicits._
      import graft.functions.Text
      import graft.operators.{Bzip2Codec, Multimodal, OfficeText, PdfText,
        PdfWriter, RtfText, TarCodec}
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 240)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .as[(Long, String)]
      val shards = docs.groupByKey(_._1 / 12).mapGroups { (fid, it) =>
        val members = it.toSeq.sortBy(_._1).map { case (id, txt) =>
          val paras = txt.split(" ", -1).grouped(8).map(_.mkString(" ")).toSeq
          (id % 6) match {
            case 0 => s"d$id.html" -> s"<html>$txt</html>".getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
            case 1 => s"d$id.pdf" -> PdfWriter.write(id,
              PdfWriter.layout(txt, perLine = 8, linesPerPage = 6),
              (id % 3).toInt)
            case 2 => s"d$id.docx" -> OfficeText.writeDocx(paras, salt = id)
            case 3 => s"d$id.odt" -> OfficeText.writeOdt(paras, salt = id)
            case 4 => s"d$id.rtf" -> RtfText.write(paras)
            case _ => s"d$id.txt" -> txt.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
          }
        }
        (fid, Bzip2Codec.compress(TarCodec.write(members)))
      }.toDF("file_id", "content")
      val extracted = shards.as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (fid, bz) =>
          TarCodec.parse(fid, Bzip2Codec.decompress(fid, bz))
            .iterator.map { case (name, data) =>
              val id = name.stripPrefix("d").takeWhile(_.isDigit).toLong
              Multimodal.sniffModality(data) match {
                case "application/pdf" =>
                  (id, "application/pdf",
                    PdfText.extract(id, data).text.replace('\n', ' '))
                case "application/zip" =>
                  val d = OfficeText.extract(id, data)
                  (id, s"application/${d.kind}",
                    d.text.replace('\n', ' ').replace('\t', ' '))
                case "text/rtf" =>
                  (id, "text/rtf", RtfText.extract(id, data)
                    .replace('\n', ' ').replace('\t', ' '))
                case _ => // plain text members: html vs txt by name
                  val raw = new String(data,
                    java.nio.charset.StandardCharsets.UTF_8)
                  if (name.endsWith(".html")) (id, "text/html", raw)
                  else (id, "text/plain", raw)
              }
            }
        }).toDF("doc_id", "modality", "raw")
      extracted
        .select(col("doc_id"), col("modality"),
          when(col("modality") === "text/html",
            Text.stripHtml(col("raw"))).otherwise(col("raw")).as("clean"))
        .select(col("doc_id"), col("modality"),
          trim(regexp_replace(col("clean"), "\\s+", " ")).as("text"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 240)
        |SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/pdf'
        |    WHEN 2 THEN 'application/docx' WHEN 3 THEN 'application/odt'
        |    WHEN 4 THEN 'text/rtf' ELSE 'text/plain' END AS modality,
        |  t AS text
        |FROM d ORDER BY doc_id""".stripMargin),

    // --- .xz ingest (XzCodec, pure-JVM LZMA2): COMMITTED fixtures
    //     encoded by the system xz CLI (tools/xz_fixtures.py) over
    //     generator-deterministic content, sweeping presets, lc/lp/pb
    //     shapes, all four check types, forced multi-block and a
    //     concatenated two-stream file. Each decodes executor-side
    //     (checks verified) into lines the oracle rebuilds
    //     analytically — no pinned constants ------------------------
    Gate("q_xz_ingest", (s, dir) => {
      import s.implicits._
      import graft.operators.XzCodec
      val fixtures = (0 until 13).map { k =>
        val ext = if (k == 12) "lzma" else "xz"
        val in = getClass.getResourceAsStream(s"/graft/xz/fixture_$k.$ext")
        require(in != null, s"missing xz fixture $k")
        try (k.toLong, in.readAllBytes()) finally in.close()
      }
      fixtures.toDF("fixture_id", "content")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (k, bz) =>
          // k=12 is the legacy .lzma "alone" container (routed by
          // NAME — the format has no magic); the rest are .xz
          val raw = if (k == 12) XzCodec.decompressLzmaAlone(k, bz)
            else XzCodec.decompress(k, bz)
          val text = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
          text.split("\n", -1).iterator.filter(_.nonEmpty)
            .zipWithIndex.map { case (l, i) => (k, i.toLong, l) }
        })
        .toDF("fixture_id", "line_no", "line")
        .orderBy(col("fixture_id"), col("line_no"))
    },
      """WITH f AS (SELECT unnest(range(0, 13)) AS k),
        |l AS (SELECT k, unnest(range(0, 20 + 5 * k)) AS i FROM f),
        |w AS (SELECT k, i, unnest(range(0, 5 + (i % 7))) AS j FROM l),
        |words AS (
        |  SELECT k, i,
        |    string_agg('w' || CAST((k * 31 + i * 17 + j * 13) % 101
        |      AS VARCHAR), ' ' ORDER BY j) AS ws
        |  FROM w GROUP BY k, i)
        |SELECT k AS fixture_id, i AS line_no,
        |  'doc' || CAST(k * 100 + i AS VARCHAR) || chr(9) || ws AS line
        |FROM words ORDER BY fixture_id, line_no""".stripMargin),

    // --- ENCRYPTED-PDF ingest (PdfCrypt): committed fixtures built by
    //     an independent python implementation of the standard
    //     security handler (tools/pdf_encrypt.py) — R3 RC4-128,
    //     R4 AESV2, R6 AES-256, all opening with the EMPTY user
    //     password (the crawled-corpus case: permission-bit documents)
    //     and extracting exact text the oracle rebuilds analytically -
    Gate("q_pdf_encrypted", (s, dir) => {
      import s.implicits._
      import graft.operators.PdfText
      val names = Seq((0L, "r3"), (1L, "r4aes"), (2L, "r6"))
      names.toDF("k", "name")
        .as[(Long, String)]
        .mapPartitions(_.map { case (k, name) =>
          val in = getClass.getResourceAsStream(s"/graft/pdf_enc/fixture_$name.pdf")
          require(in != null, s"missing encrypted-pdf fixture $name")
          val bytes = try in.readAllBytes() finally in.close()
          val t = PdfText.extract(k, bytes)
          (k, name, t.nPages.toLong, t.text.replace('\n', ' '))
        })
        .toDF("k", "revision", "n_pages", "text")
        .orderBy(col("k"))
    },
      """WITH f AS (SELECT unnest(range(0, 3)) AS k),
        |l AS (SELECT k, unnest(range(0, 8 + k)) AS i FROM f),
        |txt AS (
        |  SELECT k, string_agg(
        |    'enc' || CAST(k AS VARCHAR) || ' line' || CAST(i AS VARCHAR) ||
        |    ' w' || CAST((k * 7 + i * 3) % 50 AS VARCHAR),
        |    ' ' ORDER BY i) AS text
        |  FROM l GROUP BY k)
        |SELECT k,
        |  CASE k WHEN 0 THEN 'r3' WHEN 1 THEN 'r4aes' ELSE 'r6' END
        |    AS revision,
        |  CAST(1 AS BIGINT) AS n_pages, text
        |FROM txt ORDER BY k""".stripMargin),

    // --- Exif privacy scrub (Multimodal.scrubExifGps): JPEGs planted
    //     with GPS coordinates + orientations (both byte orders) and
    //     VP8X WebPs with EXIF chunks; the scrub must flag and remove
    //     GPS while pixels stay byte-identical and display
    //     orientation survives — proven by hashing the SCRUBBED bytes
    //     through the shared normalized decode and matching the
    //     upright formula hash in the oracle -------------------------
    Gate("q_exif_scrub", (s, dir) => {
      import s.implicits._
      import graft.operators.{JpegCodec, Multimodal, WebpCodec}
      def sv(d: Long, bx: Int, by: Int): Int =
        (18 + ((d / 25) * 53 + bx * 29 + by * 61) % 220).toInt
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0 && col("doc_id") < 500)
        .as[Long]
        .mapPartitions(_.map { d =>
          val k = d / 25
          val o = (1 + k % 8).toInt
          val inv = o match { case 6 => 8; case 8 => 6; case x => x }
          val rgb = new Array[Byte](64 * 48 * 3)
          var i = 0
          while (i < 64 * 48) {
            val b = sv(d, (i % 64) / 16, (i / 64) / 16).toByte
            rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
            i += 1
          }
          val upright = JpegCodec.DecodedImage(64, 48, 3, rgb)
          val stored = Multimodal.applyOrientation(upright, inv)
          val bytes =
            if (k % 4 == 3) {
              val plain = WebpCodec.encodeLossless(stored.width,
                stored.height, 3, stored.pixels)
              WebpCodec.withExifOrientation(d, plain, o)
            } else {
              val enc = JpegCodec.encodeRgb(stored.width, stored.height,
                stored.pixels, quality = 100, subsample = true)
              if (k % 2 == 0)
                JpegCodec.withExifGps(enc, o,
                  latMilli = (40000 + k * 97).toInt,
                  lonMilli = (9000 + k * 53).toInt,
                  bigEndian = k % 8 < 4)
              else if (o == 1) enc
              else JpegCodec.withExifOrientation(enc, o)
            }
          (d, bytes)
        })
        .toDF("media_id", "content")
      val scrubbed = Multimodal.scrubExifGps(media).toDF()
      val rehashed = Multimodal.aHashAuto(
        scrubbed.select(col("media_id"), col("content"))).toDF()
        .select(col("media_id"), col("ahash"))
      scrubbed.select(col("media_id"), col("modality"), col("had_gps"))
        .join(rehashed, "media_id")
        .select(col("media_id"), col("modality"), col("had_gps"),
          lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
        .orderBy(col("media_id"))
    },
      """WITH imgs AS (
        |  SELECT doc_id, doc_id // 25 AS k
        |  FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500),
        |lum AS (
        |  SELECT doc_id, k, list_transform(range(0, 64), j ->
        |    3 * (18 + (k * 53 + ((j % 8) // 2) * 29
        |         + ((6 * (j // 8)) // 16) * 61) % 220)) AS lum
        |  FROM imgs)
        |SELECT doc_id AS media_id,
        |  CASE WHEN k % 4 = 3 THEN 'image/webp' ELSE 'image/jpeg' END
        |    AS modality,
        |  k % 2 = 0 AS had_gps,
        |  array_to_string(list_transform(range(63, -1, -1), j ->
        |    CASE WHEN 64 * lum[j + 1] > list_sum(lum) THEN 1 ELSE 0 END), '')
        |    AS ahash_bits
        |FROM lum ORDER BY media_id""".stripMargin),

    // --- REAL FLAC decode (FlacAudio): per-doc PCM from a formula
    //     the oracle replays, encoded in-gate sweeping stereo modes,
    //     subframe types (fixed 0-4 / verbatim / LPC), bit depths
    //     8/16/24 and rice partition orders, then decoded back —
    //     CRC-8/CRC-16 checked per frame and the STREAMINFO MD5 of
    //     the decoded PCM verified, so a row existing at all proves
    //     bit-exactness; the stats prove it to the oracle ------------
    Gate("q_flac_decode", (s, dir) => {
      import s.implicits._
      import graft.operators.FlacAudio
      t(s, dir, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(25)) === 0)
        .as[Long]
        .mapPartitions(_.map { d =>
          val k = d / 25
          val channels = (1 + k % 2).toInt
          val bps = (k % 3) match { case 0 => 8; case 1 => 16; case _ => 24 }
          val amp = bps match { case 8 => 120; case 16 => 9000; case _ => 4000000 }
          val nf = (150 + (k % 7) * 37).toInt
          val blockSize = (64 + (k % 3) * 32).toInt
          val pcm = Array.tabulate(nf * channels) { i =>
            val frame = i / channels
            val c = i % channels
            (((frame + 7).toLong * (k + 3) * 2203 + c * 911)
              % (2L * amp + 1)).toInt - amp
          }
          val stereoModes =
            Array("independent", "leftside", "rightside", "midside")
          val stereo: String =
            if (channels == 2) stereoModes((k % 4).toInt) else "independent"
          val (sub, lp) = (k % 5) match {
            case 0 => ("auto", None)
            case 1 => ("fixed1", None)
            case 2 => ("fixed3", None)
            case 3 => ("verbatim", None)
            case _ => ("lpc", Some(FlacAudio.LpcSpec(Array(3, -1), 1, 4)))
          }
          val enc = FlacAudio.encode(8000, channels, bps, pcm,
            blockSize = blockSize, stereo = stereo, subframe = sub,
            partitionOrder = (k % 3).toInt, lpc = lp)
          val dec = FlacAudio.decode(d, enc)
          require(dec.md5Ok, s"media $d: FLAC MD5 did not verify")
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          dec.samples.foreach { v =>
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          (d, dec.sampleRate.toLong, dec.channels.toLong, dec.bps.toLong,
            (dec.samples.length / dec.channels).toLong, sum,
            mn.toLong, mx.toLong, dec.md5Ok)
        })
        .toDF("media_id", "sample_rate", "channels", "bps", "n_samples",
          "sum_samples", "min_s", "max_s", "md5_ok")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id // 25 AS k FROM documents
        |  WHERE doc_id % 25 = 0),
        |p AS (
        |  SELECT doc_id, k,
        |    1 + k % 2 AS channels,
        |    CASE k % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS bps,
        |    CASE k % 3 WHEN 0 THEN 120 WHEN 1 THEN 9000
        |      ELSE 4000000 END AS amp,
        |    150 + (k % 7) * 37 AS nf
        |  FROM d),
        |s AS (
        |  SELECT doc_id, k, channels, bps, nf,
        |    list_transform(range(0, nf * channels), i ->
        |      ((i // channels + 7) * (k + 3) * 2203 + (i % channels) * 911)
        |        % (2 * amp + 1) - amp) AS pcm
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(bps AS BIGINT) AS bps,
        |  CAST(nf AS BIGINT) AS n_samples,
        |  CAST(list_sum(pcm) AS BIGINT) AS sum_samples,
        |  CAST(list_min(pcm) AS BIGINT) AS min_s,
        |  CAST(list_max(pcm) AS BIGINT) AS max_s,
        |  TRUE AS md5_ok
        |FROM s ORDER BY media_id""".stripMargin),

    // --- FLAC interop fixtures: files written by the INDEPENDENT
    //     pure-Python encoder (tools/flac_fixtures.py — LPC, rice2,
    //     escape partitions, wasted bits, all stereo modes, tabled +
    //     explicit block-size/sample-rate codes, multi-byte frame
    //     numbers) decoded by the Scala module; oracle replays the
    //     shared formula PCM per fixture, so a correlated Scala
    //     encode/decode misreading cannot pass --------------------
    Gate("q_flac_fixtures", (s, dir) => {
      import s.implicits._
      import graft.operators.{FlacAudio, FlacFixtures}
      val names = FlacFixtures.manifest.map(_.name)
      s.createDataset(names).repartition(3)
        .mapPartitions(_.map { name =>
          val fx = FlacFixtures.manifest.find(_.name == name).get
          val dec = FlacAudio.decode(fx.salt.toLong, FlacFixtures.load(name))
          require(dec.md5Ok, s"${fx.name}: FLAC MD5 did not verify")
          var sum = 0L
          dec.samples.foreach(sum += _)
          (name, dec.sampleRate.toLong, dec.channels.toLong, dec.bps.toLong,
            (dec.samples.length / dec.channels).toLong, sum)
        })
        .toDF("fixture", "sample_rate", "channels", "bps", "n_samples",
          "sum_samples")
        .orderBy(col("fixture"))
    },
      """WITH m(fixture, rate, ch, bps, nf, amp, salt, scale) AS (VALUES
        |  ('fixture_0.flac', 8000, 1, 16, 600, 9000, 1, 1),
        |  ('fixture_1.flac', 16000, 2, 16, 500, 7000, 2, 1),
        |  ('fixture_2.flac', 8000, 1, 8, 300, 120, 3, 1),
        |  ('fixture_3.flac', 44100, 2, 24, 256, 8000000, 4, 1),
        |  ('fixture_4.flac', 8000, 1, 16, 400, 4000, 5, 8),
        |  ('fixture_5.flac', 8000, 1, 16, 256, 32000, 6, 1),
        |  ('fixture_6.flac', 22050, 2, 16, 700, 5000, 7, 1),
        |  ('fixture_7.flac', 8000, 1, 12, 350, 1800, 8, 1),
        |  ('fixture_8.flac', 8000, 1, 16, 3000, 100, 9, 1)),
        |s AS (
        |  SELECT fixture, rate, ch, bps, nf,
        |    list_transform(range(0, nf * ch), i ->
        |      (((i // ch + 7) * (salt + 3) * 2203 + (i % ch) * 911)
        |        % (2 * amp + 1) - amp) * scale) AS pcm
        |  FROM m)
        |SELECT fixture,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST(bps AS BIGINT) AS bps,
        |  CAST(nf AS BIGINT) AS n_samples,
        |  CAST(list_sum(pcm) AS BIGINT) AS sum_samples
        |FROM s ORDER BY fixture""".stripMargin),

    // --- EPUB extraction (EpubText): per-doc books with 1-3 chapters
    //     of formula paragraphs, written through the OCF/OPF fixture
    //     writer and extracted back through container.xml → OPF →
    //     spine-ordered XHTML; the oracle replays title, spine and
    //     the exact newline-joined text -----------------------------
    Gate("q_epub_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.EpubText
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val nCh = (1 + d % 3).toInt
          val chapters = (0 until nCh).map { c =>
            (s"Chapter $c", Seq(
              s"c${c}p0 w${(d + 11 * c) % 50}",
              s"c${c}p1 w${(d + 11 * c + 7) % 50}"))
          }
          val book = EpubText.write(s"Book $d", chapters)
          val doc = EpubText.extract(d, book)
          (d, doc.title, doc.nSpine.toLong, doc.nParagraphs.toLong, doc.text)
        })
        .toDF("doc_id", "title", "n_spine", "n_paragraphs", "text")
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 3 AS n_ch FROM documents),
        |ch AS (
        |  SELECT doc_id, n_ch,
        |    array_to_string(list_transform(range(0, n_ch), c ->
        |      'c' || c || 'p0 w' || ((doc_id + 11 * c) % 50) || chr(10) ||
        |      'c' || c || 'p1 w' || ((doc_id + 11 * c + 7) % 50)),
        |      chr(10)) AS text
        |  FROM d)
        |SELECT doc_id, 'Book ' || doc_id AS title,
        |  CAST(n_ch AS BIGINT) AS n_spine,
        |  CAST(n_ch * 2 AS BIGINT) AS n_paragraphs, text
        |FROM ch ORDER BY doc_id""".stripMargin),

    // --- ID3v2 metadata + Xing VBR headers (Id3, Mp3Codec.vbrInfo):
    //     per-doc MP3s with a real tag (v2.3/v2.4 x all four text
    //     encodings, COMM + TXXX structure) in front of a VBR frame
    //     stream, every third file without a Xing header (duration
    //     falls back to the full frame walk). Oracle replays the tag
    //     strings and the exact integer duration arithmetic ---------
    Gate("q_id3_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.{Id3, Mp3Codec}
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val k = (d % 4).toInt
          val (v24, enc) = k match {
            case 0 => (false, 0)
            case 1 => (false, 1)
            case 2 => (true, 3)
            case _ => (true, 2)
          }
          val title = if (k == 0) s"Tîtle æ$d" else s"Tïtle №$d"
          val artist = if (k == 0) s"Ärtist $d" else s"Артист $d"
          val frames = Seq(
            "TIT2" -> title, "TPE1" -> artist,
            "TALB" -> s"Album ${d % 9}",
            (if (v24) "TDRC" else "TYER") -> (1990 + d % 30).toString,
            "COMM" -> s"eng/note:Comment ©$d",
            "TXXX" -> s"origin:crawl-${d % 5}")
          val tag = Id3.synthesize(frames, v24, enc)
          val withXing = d % 3 != 1
          val n = (3 + d % 4).toInt
          val brIdxs = (0 until n).map(i => 1 + ((d + i) % 14).toInt)
          val mp3 = Mp3Codec.synthesizeVbr(brIdxs, (d % 3).toInt,
            mpeg1 = d % 2 == 0, withXing = withXing, id3 = tag)
          val parsed = Id3.parse(d, mp3).get
          val info = Mp3Codec.parse(d, mp3)
          val duration = Mp3Codec.vbrInfo(d, mp3)
            .map(_.durationMs).getOrElse(info.durationMs)
          (d, parsed.version,
            parsed.first("TIT2").get, parsed.first("TPE1").get,
            parsed.first("TALB").get,
            parsed.first("TDRC").orElse(parsed.first("TYER")).get,
            parsed.first("COMM").get, parsed.first("TXXX").get,
            info.nFrames.toLong, duration)
        })
        .toDF("doc_id", "version", "title", "artist", "album", "yr",
          "comm", "txxx", "n_frames", "duration_ms")
        .orderBy(col("doc_id"))
    },
      """WITH d AS (SELECT doc_id AS d FROM documents),
        |p AS (
        |  SELECT d, d % 4 AS k, d % 2 = 0 AS mpeg1, d % 3 AS sri,
        |    d % 3 <> 1 AS xing, 3 + d % 4 AS music
        |  FROM d),
        |q AS (
        |  SELECT *,
        |    CASE WHEN mpeg1
        |      THEN CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |        ELSE 32000 END
        |      ELSE CASE sri WHEN 0 THEN 22050 WHEN 1 THEN 24000
        |        ELSE 16000 END END AS sr,
        |    CASE WHEN mpeg1 THEN 1152 ELSE 576 END AS spf
        |  FROM p)
        |SELECT d AS doc_id,
        |  CASE WHEN k >= 2 THEN '2.4' ELSE '2.3' END AS version,
        |  CASE WHEN k = 0 THEN 'Tîtle æ' || d
        |    ELSE 'Tïtle №' || d END AS title,
        |  CASE WHEN k = 0 THEN 'Ärtist ' || d
        |    ELSE 'Артист ' || d END AS artist,
        |  'Album ' || (d % 9) AS album,
        |  CAST(1990 + d % 30 AS VARCHAR) AS yr,
        |  'eng/note:Comment ©' || d AS comm,
        |  'origin:crawl-' || (d % 5) AS txxx,
        |  CAST(music + CASE WHEN xing THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_frames,
        |  CAST(music * spf * 1000 // sr AS BIGINT) AS duration_ms
        |FROM q ORDER BY doc_id""".stripMargin),

    // --- subtitle extraction (Subtitles): per-doc SRT or WebVTT
    //     transcripts (hourless timestamps, cue settings, bold
    //     markup to strip, NOTE blocks) parsed to cues; the oracle
    //     replays cue timing arithmetic and the exact joined text ----
    Gate("q_subtitle_extract", (s, dir) => {
      import s.implicits._
      import graft.operators.Subtitles
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val n = (2 + d % 4).toInt
          val cues = (0 until n).map { j =>
            val start = j * 2000L + d % 997
            val end = start + 800L + (j * 37 + d) % 1200
            Subtitles.Cue(j + 1, start, end, s"cue$j w${(d + j) % 50}")
          }
          val bytes =
            if (d % 2 == 0) Subtitles.writeSrt(cues)
            else Subtitles.writeVtt(cues,
              withHours = d % 4 == 1, decorate = d % 4 == 3)
          val (fmt, parsed) = Subtitles.parse(d, bytes)
          require(parsed == cues, s"media $d: subtitle round-trip drifted")
          (d, fmt, parsed.length.toLong,
            parsed.map(c => c.endMs - c.startMs).sum,
            parsed.map(_.text).mkString(" / "))
        })
        .toDF("doc_id", "fmt", "n_cues", "total_dur_ms", "all_text")
        .orderBy(col("doc_id"))
    },
      """WITH d AS (SELECT doc_id AS d FROM documents),
        |c AS (
        |  SELECT d, j,
        |    800 + (j * 37 + d) % 1200 AS dur,
        |    'cue' || j || ' w' || ((d + j) % 50) AS txt
        |  FROM d, LATERAL (SELECT unnest(range(0, 2 + d % 4)) AS j))
        |SELECT d AS doc_id,
        |  CASE WHEN d % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
        |  CAST(2 + d % 4 AS BIGINT) AS n_cues,
        |  CAST(sum(dur) AS BIGINT) AS total_dur_ms,
        |  string_agg(txt, ' / ' ORDER BY j) AS all_text
        |FROM c GROUP BY d ORDER BY doc_id""".stripMargin),

    // --- Ogg container metadata (OggCodec): per-doc Vorbis or Opus
    //     streams with CRC-valid pages, VorbisComment tags and
    //     granule-exact durations (Opus at 48 kHz minus pre-skip);
    //     the oracle replays the tag strings and the integer
    //     duration arithmetic --------------------------------------
    Gate("q_ogg_meta", (s, dir) => {
      import s.implicits._
      import graft.operators.OggCodec
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val opus = d % 2 == 1
          val rate = Array(8000, 16000, 44100, 48000)((d % 4).toInt)
          val channels = (1 + d % 2).toInt
          val preSkip = if (opus) (300 + d % 50).toInt else 0
          val nAudio = (2 + d % 5).toInt
          val granule =
            if (opus) preSkip + 4800L * (1 + d % 7)
            else rate.toLong * (1 + d % 7) / 2
          val b = OggCodec.synthesize(
            if (opus) "opus" else "vorbis", channels, rate, preSkip,
            vendor = s"graft-$d",
            cs = Seq("TITLE" -> s"Trãck №$d", "ARTIST" -> s"Ensemble ${d % 9}"),
            nAudioPages = nAudio, finalGranule = granule)
          val m = OggCodec.parse(d, b)
          (d, m.codec, m.channels.toLong, m.sampleRate.toLong,
            m.comments.collectFirst { case ("TITLE", v) => v }.get,
            m.comments.collectFirst { case ("ARTIST", v) => v }.get,
            m.nPages.toLong, m.lastGranule, m.durationMs)
        })
        .toDF("doc_id", "codec", "channels", "sample_rate", "title",
          "artist", "n_pages", "last_granule", "duration_ms")
        .orderBy(col("doc_id"))
    },
      """WITH d AS (SELECT doc_id AS d FROM documents),
        |p AS (
        |  SELECT d, d % 2 = 1 AS opus,
        |    CASE d % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 44100 ELSE 48000 END AS rate,
        |    1 + d % 2 AS channels,
        |    CASE WHEN d % 2 = 1 THEN 300 + d % 50 ELSE 0 END AS preskip,
        |    2 + d % 5 AS n_audio
        |  FROM d),
        |q AS (
        |  SELECT *, CASE WHEN opus THEN preskip + 4800 * (1 + d % 7)
        |    ELSE rate * (1 + d % 7) // 2 END AS granule
        |  FROM p)
        |SELECT d AS doc_id,
        |  CASE WHEN opus THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  'Trãck №' || d AS title,
        |  'Ensemble ' || (d % 9) AS artist,
        |  CAST(2 + n_audio AS BIGINT) AS n_pages,
        |  CAST(granule AS BIGINT) AS last_granule,
        |  CAST(CASE WHEN opus THEN (granule - preskip) * 1000 // 48000
        |    ELSE granule * 1000 // rate END AS BIGINT) AS duration_ms
        |FROM q ORDER BY doc_id""".stripMargin),

    // --- FLAGSHIP audio-corpus chain: one binary column carrying
    //     WAV, FLAC, MP3(+ID3) and Ogg Opus payloads; sniff dispatch
    //     routes each to its real parser, PCM containers dedup by
    //     the shared energy fingerprint (FLAC is lossless, so a
    //     WAV/FLAC pair of the same recording collapses), compressed
    //     containers dedup by their TITLE tag across MP3/Ogg, and
    //     every row reports its exact container-native duration.
    //     The oracle replays group membership and the duration
    //     arithmetic end to end ------------------------------------
    Gate("q_audio_pipeline", (s, dir) => {
      import s.implicits._
      import graft.operators.{FlacAudio, Id3, Mp3Codec, Multimodal, OggCodec}
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val r = (d % 25).toInt
          val samples =
            Array.tabulate(130)(t => ((r + 1) * (t + 7) * 2203) % 2003 - 1001)
          val bytes = (d % 4) match {
            case 0 => Multimodal.WavCodec.synthesize(8000,
              samples.map(_.toShort))
            case 1 => FlacAudio.encode(8000, 1, 16, samples, blockSize = 64)
            case 2 =>
              val tag = Id3.synthesize(Seq("TIT2" -> s"track $r"),
                v24 = true, encoding = 3)
              Mp3Codec.synthesizeVbr(
                (0 until (3 + r % 4)).map(i => 1 + (r + i) % 14),
                (r % 3), mpeg1 = true, withXing = true, id3 = tag)
            case _ =>
              OggCodec.synthesize("opus", 1, 16000, 300, "v",
                Seq("TITLE" -> s"track $r"), nAudioPages = 2,
                finalGranule = 300L + 4800L * (1 + r % 5))
          }
          (d, bytes)
        }).toDF("media_id", "content")
      val keyed = media.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, c) =>
          Multimodal.sniffModality(c) match {
            case m @ "audio/wav" =>
              val f = Multimodal.WavCodec.parse(id, c)
              (id, m, "", f.duration_us / 1000)
            case m @ "audio/flac" =>
              val p = FlacAudio.decode(id, c)
              (id, m, "",
                (p.samples.length / p.channels).toLong * 1000 / p.sampleRate)
            case m @ "audio/mpeg" =>
              val title = Id3.parse(id, c).flatMap(_.first("TIT2"))
                .getOrElse(throw new IllegalArgumentException(
                  s"media $id: MP3 without a TIT2 tag"))
              (id, m, title, Mp3Codec.vbrInfo(id, c).get.durationMs)
            case m @ "audio/ogg" =>
              val g = OggCodec.parse(id, c)
              val title = g.comments.collectFirst { case ("TITLE", v) => v }
                .getOrElse(throw new IllegalArgumentException(
                  s"media $id: Ogg without a TITLE tag"))
              (id, m, title, g.durationMs)
            case other => throw new IllegalArgumentException(
              s"media $id: unexpected modality $other")
          }
        }).toDF("media_id", "modality", "tag_key", "duration_ms")
      // PCM containers: dedup by the shared 64-bit energy fingerprint
      val pcm = keyed.filter(col("modality").isin("audio/wav", "audio/flac"))
      val fp = Multimodal.fingerprintAudio(
        media.join(pcm.select("media_id"), "media_id")).toDF()
      val pcmRep = fp.join(
        fp.groupBy(col("ahash")).agg(min(col("media_id")).as("rep")),
        "ahash").select(col("media_id"), col("rep"))
      // compressed containers: dedup by TITLE across MP3 and Ogg
      val tagged = keyed.filter(!col("modality").isin("audio/wav", "audio/flac"))
      val tagRep = tagged.join(
        tagged.groupBy(col("tag_key")).agg(min(col("media_id")).as("rep")),
        "tag_key").select(col("media_id"), col("rep"))
      keyed.join(pcmRep.unionByName(tagRep), "media_id")
        .select(col("media_id"), col("modality"), col("rep"),
          col("duration_ms"))
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id AS d, doc_id % 25 AS r, doc_id % 4 AS k
        |  FROM documents),
        |en AS (
        |  SELECT r, list_transform(range(0, 65), w ->
        |    abs(((r + 1) * (2*w + 7) * 2203) % 2003 - 1001) +
        |    abs(((r + 1) * (2*w + 8) * 2203) % 2003 - 1001)) AS e
        |  FROM (SELECT DISTINCT r FROM d)),
        |bits AS (
        |  SELECT r, array_to_string(list_transform(range(0, 64), j ->
        |    CASE WHEN e[j + 2] > e[j + 1] THEN 1 ELSE 0 END), '') AS fp
        |  FROM en),
        |pcmrep AS (
        |  SELECT b.fp, min(d.d) AS rep
        |  FROM d JOIN bits b ON b.r = d.r WHERE d.k <= 1 GROUP BY b.fp),
        |tagrep AS (
        |  SELECT r, min(d) AS rep FROM d WHERE k >= 2 GROUP BY r)
        |SELECT d.d AS media_id,
        |  CASE d.k WHEN 0 THEN 'audio/wav' WHEN 1 THEN 'audio/flac'
        |    WHEN 2 THEN 'audio/mpeg' ELSE 'audio/ogg' END AS modality,
        |  CASE WHEN d.k <= 1
        |    THEN (SELECT p.rep FROM pcmrep p JOIN bits b ON b.fp = p.fp
        |          WHERE b.r = d.r)
        |    ELSE (SELECT t.rep FROM tagrep t WHERE t.r = d.r) END AS rep,
        |  CAST(CASE WHEN d.k <= 1 THEN 16
        |    WHEN d.k = 2 THEN (3 + d.r % 4) * 1152 * 1000 //
        |      (CASE d.r % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |        ELSE 32000 END)
        |    ELSE 100 * (1 + d.r % 5) END AS BIGINT) AS duration_ms
        |FROM d ORDER BY media_id""".stripMargin),

    // --- PNG privacy scrub (PngCodec.stripMetadata): gray PNGs
    //     planted with tEXt author strings, tIME stamps and (every
    //     2nd) an eXIf block carrying GPS; the scrub must flag and
    //     remove ALL metadata classes while pixels decode identical
    //     — proven by re-decoding the scrubbed bytes against the
    //     pixel formula and asserting the planted strings are gone --
    Gate("q_png_scrub", (s, dir) => {
      import s.implicits._
      import graft.operators.{JpegCodec, Multimodal, PngCodec}
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val w = 8 + (d % 5).toInt
          val h = 4 + (d % 3).toInt
          val plain = PngCodec.encode(w, h, 1,
            Array.tabulate(w * h)(i => ((d * 7 + i) % 256).toByte))
          val exif =
            if (d % 2 == 0)
              Some(JpegCodec.exifTiffBytesGps((1 + d % 8).toInt,
                latMilli = (40000 + d * 31 % 9000).toInt,
                lonMilli = (9000 + d * 17 % 7000).toInt,
                bigEndian = d % 4 < 2))
            else None
          (d, PngCodec.withMetadata(d, plain,
            texts = Seq("Author" -> s"secret-author-$d",
              "Comment" -> "shot at home"),
            exifTiff = exif, withTime = true))
        }).toDF("media_id", "content")
      val scrubbed = Multimodal.scrubExifGps(media).toDF()
        .select(col("media_id"), col("modality"), col("had_gps"),
          col("content"))
      scrubbed.as[(Long, String, Boolean, Array[Byte])]
        .mapPartitions(_.map { case (id, m, hadGps, c) =>
          val img = PngCodec.decode(id, c)
          var sum = 0L
          img.pixels.foreach(p => sum += (p & 0xff))
          val txt = new String(c,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          require(!txt.contains("secret-author") && !txt.contains("shot at"),
            s"media $id: scrub left metadata text behind")
          require(!PngCodec.exifHasGps(id, c),
            s"media $id: scrub left GPS behind")
          (id, m, hadGps, img.pixels.length.toLong,
            sum.toDouble / img.pixels.length)
        })
        .toDF("media_id", "modality", "had_gps", "n_pixels",
          "mean_intensity")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, 'image/png' AS modality,
        |  doc_id % 2 = 0 AS had_gps,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, w * h), i ->
        |    (doc_id * 7 + i) % 256)) AS DOUBLE) / (w * h)
        |    AS mean_intensity
        |FROM d ORDER BY media_id""".stripMargin),

    // --- MP4 track-level metadata (Mp4Codec.tracks): real trak/
    //     tkhd/mdhd/hdlr/stsd structure per doc — handler types,
    //     sample-entry codecs, packed ISO-639-2 languages and
    //     per-track timescale-exact durations; the probe a video
    //     pipeline runs before committing to decode. Oracle replays
    //     every field ---------------------------------------------
    Gate("q_mp4_tracks", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { d =>
          val nT = (1 + d % 3).toInt
          val handlers = Array("vide", "soun", "text")
          val codecs = Array("avc1", "mp4a", "tx3g")
          val langs = Array("eng", "deu", "jpn", "und")
          val specs = (0 until nT).map { t =>
            val c = ((d + t) % 3).toInt
            val timescale = Array(600, 1000, 48000)(((d + t) % 3).toInt)
            val secs = (2 + (d + t) % 5).toInt
            (handlers(c), codecs(c), langs(((d + t) % 4).toInt),
              timescale, timescale * secs)
          }
          val mp4 = Multimodal.Mp4Codec.synthesizeTracks(1000, 5000, specs)
          Multimodal.Mp4Codec.tracks(d, mp4).zipWithIndex.map {
            case (tr, i) =>
              (d, i.toLong, tr.trackId, tr.handler, tr.codec,
                tr.language, tr.timescale, tr.durationMs)
          }
        })
        .toDF("media_id", "track_no", "track_id", "handler", "codec",
          "language", "timescale", "duration_ms")
        .orderBy(col("media_id"), col("track_no"))
    },
      """WITH d AS (SELECT doc_id AS d FROM documents),
        |t AS (
        |  SELECT d, j AS track_no, (d + j) % 3 AS c, (d + j) % 4 AS lg,
        |    2 + (d + j) % 5 AS secs
        |  FROM d, LATERAL (SELECT unnest(range(0, 1 + d % 3)) AS j))
        |SELECT d AS media_id, CAST(track_no AS BIGINT) AS track_no,
        |  CAST(track_no + 1 AS BIGINT) AS track_id,
        |  CASE c WHEN 0 THEN 'vide' WHEN 1 THEN 'soun' ELSE 'text' END
        |    AS handler,
        |  CASE c WHEN 0 THEN 'avc1' WHEN 1 THEN 'mp4a' ELSE 'tx3g' END
        |    AS codec,
        |  CASE lg WHEN 0 THEN 'eng' WHEN 1 THEN 'deu' WHEN 2 THEN 'jpn'
        |    ELSE 'und' END AS language,
        |  CAST(CASE c WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 48000 END
        |    AS BIGINT) AS timescale,
        |  CAST(secs * 1000 AS BIGINT) AS duration_ms
        |FROM t ORDER BY media_id, track_no""".stripMargin),

    // --- WAV bit depths (WavCodec): real corpora are not all 16-bit
    //     — 8-bit unsigned-centered, 24-bit and 32-bit little-endian
    //     PCM round-trip through the depth-generic writer/parser;
    //     the oracle replays the amplitude formula and the exact
    //     integer mean arithmetic per depth --------------------------
    Gate("q_wav_depths", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val bits = Array(8, 16, 24, 32)((d % 4).toInt)
          val amp = bits match {
            case 8 => 100; case 16 => 9000; case 24 => 4000000
            case _ => 100000000
          }
          val channels = (1 + d % 2).toInt
          val n = (100 + (d % 7) * 13).toInt
          val pcm = Array.tabulate(n * channels) { i =>
            (((i / channels + 7).toLong * (d % 25 + 3) * 2203 + (i % channels) * 911)
              % (2L * amp + 1)).toInt - amp
          }
          val wav = Multimodal.WavCodec.synthesizeDepth(8000, channels,
            bits, pcm)
          val f = Multimodal.WavCodec.parse(d, wav)
          (d, f.bits.toLong, f.n_channels.toLong, f.n_samples,
            f.duration_us, f.mean_abs_amp)
        })
        .toDF("media_id", "bits", "channels", "n_samples", "duration_us",
          "mean_abs_amp")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id AS d,
        |    CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 24
        |      ELSE 32 END AS bits,
        |    CASE doc_id % 4 WHEN 0 THEN 100 WHEN 1 THEN 9000
        |      WHEN 2 THEN 4000000 ELSE 100000000 END AS amp,
        |    1 + doc_id % 2 AS ch,
        |    100 + (doc_id % 7) * 13 AS n
        |  FROM documents),
        |s AS (
        |  SELECT d, bits, ch, n,
        |    list_transform(range(0, n * ch), i ->
        |      abs(((i // ch + 7) * (d % 25 + 3) * 2203 + (i % ch) * 911)
        |        % (2 * amp + 1) - amp)) AS a
        |  FROM d)
        |SELECT d AS media_id, CAST(bits AS BIGINT) AS bits,
        |  CAST(ch AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000000 // 8000 AS BIGINT) AS duration_us,
        |  CAST(list_sum(a) AS DOUBLE) / (n * ch) AS mean_abs_amp
        |FROM s ORDER BY media_id""".stripMargin),

    // --- ASR-prep audio curation (WavCodec.trimSilence + segment):
    //     recordings padded with sub-threshold noise on both ends are
    //     trimmed to the loud middle by exact integer cuts, then
    //     chunked into fixed 25-frame windows (short tail kept);
    //     16- and 24-bit, mono and stereo. Oracle replays the cut
    //     indices, window arithmetic and the trimmed mean ----------
    Gate("q_audio_trim_segment", (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal.WavCodec
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val padL = (10 + d % 7).toInt
          val padR = (5 + d % 4).toInt
          val loud = (60 + (d % 5) * 10).toInt
          val ch = (1 + d % 2).toInt
          val bits = if (d % 3 == 0) 24 else 16
          val n = padL + loud + padR
          def frameV(i: Int): Int =
            if (i < padL || i >= padL + loud) (i % 40) - 20
            else 100 + ((d + i * 13L) % 5000).toInt
          val pcm = Array.tabulate(n * ch)(k => frameV(k / ch))
          val wav = WavCodec.synthesizeDepth(8000, ch, bits, pcm)
          val trimmed = WavCodec.trimSilence(d, wav, threshold = 50)
          val f = WavCodec.parse(d, trimmed)
          val segs = WavCodec.segment(d, trimmed, windowFrames = 25)
          val lastFrames = WavCodec.parse(d, segs.last._2).n_samples
          (d, n.toLong, f.n_samples, segs.length.toLong, lastFrames,
            f.mean_abs_amp)
        })
        .toDF("media_id", "n_orig", "n_trimmed", "n_windows",
          "last_window_frames", "mean_abs")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id AS d,
        |    10 + doc_id % 7 AS padl, 5 + doc_id % 4 AS padr,
        |    60 + (doc_id % 5) * 10 AS loud
        |  FROM documents),
        |s AS (
        |  SELECT d, padl, padr, loud,
        |    list_transform(range(padl, padl + loud), i ->
        |      100 + (d + i * 13) % 5000) AS a
        |  FROM d)
        |SELECT d AS media_id,
        |  CAST(padl + loud + padr AS BIGINT) AS n_orig,
        |  CAST(loud AS BIGINT) AS n_trimmed,
        |  CAST((loud + 24) // 25 AS BIGINT) AS n_windows,
        |  CAST(loud - ((loud + 24) // 25 - 1) * 25 AS BIGINT)
        |    AS last_window_frames,
        |  CAST(list_sum(a) AS DOUBLE) / loud AS mean_abs
        |FROM s ORDER BY media_id""".stripMargin),

    // --- TIFF privacy scrub (TiffScrub): gray TIFFs planted with
    //     Artist/DateTime strings and a GPS sub-IFD in both byte
    //     orders; the surgical scrub must flag and remove all of it
    //     with pixels byte-identical — proven by re-decoding scrubbed
    //     bytes against the pixel formula and asserting the planted
    //     strings and GPS are gone --------------------------------
    Gate("q_tiff_scrub", (s, dir) => {
      import s.implicits._
      import graft.operators.{Multimodal, TiffCodec, TiffScrub}
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val w = 16 + (d % 3).toInt * 8
          val h = 8 + (d % 2).toInt * 4
          val px = Array.tabulate(w * h)(i => ((d * 11 + i) % 256).toByte)
          val plain = TiffCodec.encode(w, h, 1, px,
            compression = if (d % 2 == 0) 5 else 1,
            bigEndian = d % 4 < 2)
          (d, TiffScrub.withPrivacyTags(d, plain,
            artist = s"secret-artist-$d",
            dateTime = "2026:07:15 12:30:45",
            gps = if (d % 2 == 0) Some(((40000 + d * 31 % 9000).toInt,
              (9000 + d * 17 % 7000).toInt)) else None))
        }).toDF("media_id", "content")
      Multimodal.scrubExifGps(media).toDF()
        .select(col("media_id"), col("modality"), col("had_gps"),
          col("content"))
        .as[(Long, String, Boolean, Array[Byte])]
        .mapPartitions(_.map { case (id, m, hadGps, c) =>
          val img = TiffCodec.decode(id, c)
          var sum = 0L
          img.pixels.foreach(p => sum += (p & 0xff))
          val txt = new String(c,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          require(!txt.contains("secret-artist") && !txt.contains("2026:07"),
            s"media $id: scrub left metadata text behind")
          require(!TiffScrub.hasGps(id, c),
            s"media $id: scrub left GPS behind")
          (id, m, hadGps, img.pixels.length.toLong,
            sum.toDouble / img.pixels.length)
        })
        .toDF("media_id", "modality", "had_gps", "n_pixels",
          "mean_intensity")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, 16 + (doc_id % 3) * 8 AS w,
        |    8 + (doc_id % 2) * 4 AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, 'image/tiff' AS modality,
        |  doc_id % 2 = 0 AS had_gps,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, w * h), i ->
        |    (doc_id * 11 + i) % 256)) AS DOUBLE) / (w * h)
        |    AS mean_intensity
        |FROM d ORDER BY media_id""".stripMargin),

    // --- AIFF probe (AiffCodec): the big-endian PCM container older
    //     corpora carry beside WAV — 80-bit extended sample rates
    //     parsed exactly, signed samples at 8/16/24 bits; the oracle
    //     replays the amplitude formula and the integer duration ----
    Gate("q_aiff_probe", (s, dir) => {
      import s.implicits._
      import graft.operators.AiffCodec
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val bits = Array(8, 16, 24)((d % 3).toInt)
          val amp = bits match {
            case 8 => 100; case 16 => 9000; case _ => 4000000
          }
          val rate = Array(8000, 44100, 22050, 11025)((d % 4).toInt)
          val ch = (1 + d % 2).toInt
          val n = (90 + (d % 6) * 17).toInt
          val pcm = Array.tabulate(n * ch) { i =>
            (((i / ch + 7).toLong * (d % 25 + 3) * 2203 + (i % ch) * 911)
              % (2L * amp + 1)).toInt - amp
          }
          val aiff = AiffCodec.synthesize(rate, ch, bits, pcm)
          require(graft.operators.Multimodal.sniffModality(aiff)
            == "audio/aiff", s"media $d: AIFF not sniffed")
          val a = AiffCodec.parse(d, aiff)
          (d, a.sampleRate.toLong, a.channels.toLong, a.bits.toLong,
            a.nFrames, a.durationUs, a.meanAbsAmp)
        })
        .toDF("media_id", "sample_rate", "channels", "bits", "n_frames",
          "duration_us", "mean_abs_amp")
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id AS d,
        |    CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
        |      AS bits,
        |    CASE doc_id % 3 WHEN 0 THEN 100 WHEN 1 THEN 9000
        |      ELSE 4000000 END AS amp,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 44100
        |      WHEN 2 THEN 22050 ELSE 11025 END AS rate,
        |    1 + doc_id % 2 AS ch,
        |    90 + (doc_id % 6) * 17 AS n
        |  FROM documents),
        |s AS (
        |  SELECT d, bits, rate, ch, n,
        |    list_transform(range(0, n * ch), i ->
        |      abs(((i // ch + 7) * (d % 25 + 3) * 2203 + (i % ch) * 911)
        |        % (2 * amp + 1) - amp)) AS a
        |  FROM d)
        |SELECT d AS media_id, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(ch AS BIGINT) AS channels, CAST(bits AS BIGINT) AS bits,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
        |  CAST(list_sum(a) AS DOUBLE) / (n * ch) AS mean_abs_amp
        |FROM s ORDER BY media_id""".stripMargin),

    // --- PRODUCTION-SHAPED audio fingerprint (the toy gates use
    //     2-sample windows; real clips carry many samples per
    //     window): 4160-sample clips = 64 samples in EVERY one of the
    //     65 energy windows, minSamples enforcing exactly that floor,
    //     containers rotating WAV16 / FLAC16 / 24-bit FLAC (the
    //     archival depth — norm16 cancels its shift exactly, so the
    //     same recording collapses across depths at this shape too).
    //     Oracle replays samples → 64-sample window energies → bits →
    //     hash-equality groups ------------------------------------
    Gate("q_audio_fp_production", (s, dir) => {
      import s.implicits._
      import graft.operators.{FlacAudio, Multimodal}
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val g = (d % 20).toInt
          val pcm = Array.tabulate(4160)(tt =>
            ((g + 1) * (tt + 11) * 131) % 4001 - 2000)
          val bytes = (d % 3) match {
            case 1 => FlacAudio.encode(8000, 1, 16, pcm, blockSize = 512)
            case 2 => FlacAudio.encode(8000, 1, 24, pcm.map(_ << 8),
              blockSize = 512)
            case _ => Multimodal.WavCodec.synthesizeDepth(8000, 1, 16, pcm)
          }
          (d, bytes)
        }).toDF("media_id", "content")
      val fp = Multimodal
        .fingerprintAudio(media, windows = 65, minSamples = 4160).toDF()
      // representative per ahash group via a window min — the previous
      // self-join (fp ⋈ fp.groupBy(ahash)) evaluated the whole
      // encode+fingerprint pipeline twice; same rows, one pass
      fp.select(col("media_id"),
          min(col("media_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("ahash")))
            .as("rep"))
        .orderBy(col("media_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 20 AS g FROM documents),
        |en AS (
        |  SELECT doc_id, list_transform(range(0, 65), w ->
        |    list_sum(list_transform(range(0, 64), i ->
        |      abs(((g + 1) * ((w * 64 + i) + 11) * 131) % 4001 - 2000))))
        |    AS en
        |  FROM d),
        |bits AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END) AS b
        |  FROM en),
        |hh AS (SELECT doc_id, array_to_string(b, '') AS hs FROM bits),
        |rep AS (SELECT hs, min(doc_id) AS rep FROM hh GROUP BY hs)
        |SELECT h.doc_id AS media_id, r.rep AS rep
        |FROM hh h JOIN rep r USING (hs)
        |ORDER BY media_id""".stripMargin)
  )
}
