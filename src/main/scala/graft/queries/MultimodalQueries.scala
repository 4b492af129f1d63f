package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, materialize}

/** Multimodal binary-column plumbing (SURVEY §2.D12). The oracle-able
  * parts are the pack step (opaque binary payload + typed metadata) and
  * frame sampling (byte-for-byte); the image decode kernel is REAL
  * (javax.imageio inside the partition kernel) but has no portable SQL
  * twin — `q_media_decode` is rows-only with exact-pixel assertions in
  * MultimodalSpec.
  */
object MultimodalQueries {

  /** The q_media_phash corpus: deterministic per-cell-hash PNGs where
    * id i and i+1000 are photometric near-twins (one perturbed pixel),
    * plus text payloads that must stay out of Hamming pairing. ONE
    * builder shared by the near-dup query and its Hamming audit —
    * never a drifting copy.
    */
  private def phashCorpus(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    def png(i: Long, perturb: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        // dHash keys on gradient-sign STRUCTURE, so each id gets its
        // own structure: a per-cell integer hash of (i, x, y), not a
        // phase shift of one shared gradient (those all look alike)
        val cell = (i * 2654435761L + x * 40503L + y * 2738L) & 0xFFFFFFFFL
        val lum = ((cell ^ (cell >> 13)) & 0xFF).toInt
        img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
      }
      if (perturb) {
        val px = (i % 16).toInt; val py = ((i * 7) % 16).toInt
        img.setRGB(px, py, img.getRGB(px, py) ^ 0x00282828)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = (0L until 30L).flatMap(i =>
      Seq((i, png(i, perturb = false)), (i + 1000L, png(i, perturb = true))))
    import s.implicits._
    val imgDf = rows.toDF("doc_id", "payload")
    val txtDf = table(s, dir, "documents").limit(40)
      .select((col("doc_id") + 2000000).as("doc_id"),
        col("text").cast("binary").as("payload"))
    Multimodal.pack(imgDf.unionByName(txtDf), col("doc_id"), col("payload"))
  }

  /** The q_media_audio_neardup corpus: id i and i+1000 are gain/wobble
    * square-wave twins (one envelope window nudged), plus text
    * payloads. Shared by the near-dup query and its Hamming audit.
    */
  private def audioNearDupCorpus(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    def wave(i: Long, tweak: Boolean): Array[Short] =
      Array.tabulate(650) { j =>
        val w = j / 10
        val amp = 500 + ((w * (2654435761L + i * 9176L)) & 0x7FF).toInt +
          (if (tweak && w == (i % 65).toInt) 3 else 0)
        (if (j % 2 == 0) amp else -amp).toShort
      }
    val wavs = (0L until 25L).flatMap { i =>
      Seq((i, Multimodal.wavPcm16(8000, 1, wave(i, tweak = false))),
        (i + 1000L, Multimodal.wavPcm16(8000, 1, wave(i, tweak = true))))
    }
    import s.implicits._
    val wavDf = wavs.toDF("doc_id", "media")
    val txtDf = table(s, dir, "documents").limit(20)
      .select((col("doc_id") + 2000000).as("doc_id"),
        col("text").cast("binary").as("media"))
    wavDf.unionByName(txtDf)
  }

  /** 64-bit unsigned → signed BIGINT (the XxSql hsx idiom). */
  private def toSigned(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808 THEN $u - 18446744073709551616 ELSE $u END AS BIGINT)"

  /** dHash-signature replay for [[phashCorpus]]'s planted 16×16
    * grayscale PNGs — PNG round-trips TYPE_INT_RGB losslessly, the
    * pixel values are pure arithmetic, and dHash's 9×8 resample is
    * integer math, so the whole signature is SQL-replayable bit for
    * bit. Emits `<pre>sig`(id BIGINT, sig BIGINT); ids i and i+1000
    * are the planted near-twins (one pixel xor 0x28 per channel, so
    * the sampled gray flips by xor 40 when the grid lands on it).
    */
  private def dhashSigSql(pre: String): String =
    s"""${pre}g AS (
       |  SELECT t.i AS img, twv.tw, gx.x AS gx, gy.y AS gy,
       |    (gx.x * 16) // 9 AS sx, gy.y * 2 AS sy
       |  FROM range(30) t(i), (VALUES (0), (1)) twv(tw),
       |       range(9) gx(x), range(8) gy(y)),
       |${pre}c AS (
       |  SELECT img, tw, gx, gy, sx, sy,
       |    (img * 2654435761 + sx * 40503 + sy * 2738) % 4294967296 AS cell
       |  FROM ${pre}g),
       |${pre}l AS (
       |  SELECT img, tw, gx, gy,
       |    CASE WHEN tw = 1 AND sx = img % 16 AND sy = (img * 7) % 16
       |         THEN xor(xor(cell, cell // 8192) % 256, 40)
       |         ELSE xor(cell, cell // 8192) % 256 END AS lum
       |  FROM ${pre}c),
       |${pre}s0 AS (
       |  SELECT a.img, a.tw,
       |    coalesce(sum(CASE WHEN a.lum > b.lum
       |      THEN 1::HUGEINT << CAST(a.gy * 8 + a.gx AS INT)
       |      ELSE 0::HUGEINT END), 0::HUGEINT) AS u
       |  FROM ${pre}l a JOIN ${pre}l b
       |    ON a.img = b.img AND a.tw = b.tw AND a.gy = b.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8
       |  GROUP BY a.img, a.tw),
       |${pre}sig AS (
       |  SELECT CAST(img + CASE WHEN tw = 1 THEN 1000 ELSE 0 END AS BIGINT) AS id,
       |    ${toSigned("u")} AS sig
       |  FROM ${pre}s0)""".stripMargin

  /** Energy-envelope fingerprint replay for [[audioNearDupCorpus]]'s
    * planted square waves: each 10-sample window's RMS is EXACTLY
    * amp/32768 (dyadic samples, equal-value squares, exact sqrt), so
    * the envelope comparisons reduce to integer amp comparisons.
    * Emits `<pre>sig`(id BIGINT, sig BIGINT).
    */
  private def envSigSql(pre: String): String =
    s"""${pre}a AS (
       |  SELECT t.i, twv.tw, w.w,
       |    500 + (w.w * (2654435761 + t.i * 9176)) % 2048
       |      + CASE WHEN twv.tw = 1 AND w.w = t.i % 65 THEN 3 ELSE 0 END AS amp
       |  FROM range(25) t(i), (VALUES (0), (1)) twv(tw), range(65) w(w)),
       |${pre}s0 AS (
       |  SELECT a.i, a.tw,
       |    coalesce(sum(CASE WHEN b.amp > a.amp
       |      THEN 1::HUGEINT << CAST(a.w AS INT)
       |      ELSE 0::HUGEINT END), 0::HUGEINT) AS u
       |  FROM ${pre}a a JOIN ${pre}a b
       |    ON a.i = b.i AND a.tw = b.tw AND b.w = a.w + 1
       |  GROUP BY a.i, a.tw),
       |${pre}sig AS (
       |  SELECT CAST(i + CASE WHEN tw = 1 THEN 1000 ELSE 0 END AS BIGINT) AS id,
       |    ${toSigned("u")} AS sig
       |  FROM ${pre}s0)""".stripMargin

  /** Brute Hamming pairs over a sig CTE — equals the engine's
    * 8-chunk blocked tier exactly (pigeonhole is lossless at
    * maxDist ≤ 7, measured P=R=1.0 by q_audit_media_hamming).
    */
  private def hammingPairsSql(sigsCte: String, maxDist: Int, out: String): String =
    s"""$out AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM $sigsCte a JOIN $sigsCte b ON a.id < b.id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $maxDist)""".stripMargin

  val all: Seq[Q] = Seq(

    // D12: real image decode through the partition-local kernel — a
    // deterministic mixed corpus (RGB gradient PNGs keyed by id, plus
    // text payloads that must take the decoded=false fallback).
    // EXACT oracle since r11: DuckDB has no PNG codec, but it doesn't
    // need one — the planted pixels are pure arithmetic and PNG
    // round-trips TYPE_INT_RGB losslessly, so the oracle recomputes
    // the DECODED features from the same arithmetic; a codec that
    // corrupted a single pixel would hash-fail. The float features
    // export as INTEGER lanes (sum recovered via round(f·255·px) —
    // float's ~6e-8 relative error is orders below the .5 rounding
    // slack), and the fallback tier replays byteFold over UTF-8 bytes
    // (hex-pair extraction, the XxSql idiom; text capped at 512 chars
    // to bound float-accumulation error far under the slack).
    Q(
      "q_media_decode",
      """WITH g AS (
        |  SELECT i, x, y FROM range(50) t(i), range(4) xs(x), range(3) ys(y)
        |  WHERE x < 2 + i % 3 AND y < 2 + i % 2),
        |pxl AS (
        |  SELECT i, (i*41 + x*17 + y*7) % 256 AS r, i % 256 AS gg,
        |    (x*y) % 256 AS b
        |  FROM g),
        |img AS (
        |  SELECT i AS doc_id, TRUE AS decoded,
        |    CAST(2 + i % 3 AS INT) AS width, CAST(2 + i % 2 AS INT) AS height,
        |    CAST(sum(r) AS BIGINT) AS m0_sum,
        |    CAST(sum(CASE WHEN ((r + gg + b) // 3) * 13 // 256 = 0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS m3_sum
        |  FROM pxl GROUP BY i),
        |txt0 AS (
        |  SELECT doc_id + 1000000 AS id, substr(text, 1, 512) AS s
        |  FROM documents WHERE doc_id < 50),
        |tb AS (
        |  SELECT id, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
        |  FROM txt0),
        |tl AS (
        |  SELECT id, list_transform(range(1, n+1), j ->
        |    (strpos('0123456789ABCDEF', substr(hx, 2*j-1, 1))-1)*16 +
        |     strpos('0123456789ABCDEF', substr(hx, 2*j, 1))-1) AS bs
        |  FROM tb),
        |txt AS (
        |  SELECT id AS doc_id, FALSE AS decoded,
        |    CAST(32 + (id * 7) % 97 AS INT) AS width,
        |    CAST(32 + (id * 13) % 61 AS INT) AS height,
        |    CAST(coalesce(list_sum(list_filter(bs, (v, j) -> (j-1) % 16 = 0)), 0)
        |      AS BIGINT) AS m0_sum,
        |    CAST(coalesce(list_sum(list_filter(bs, (v, j) -> (j-1) % 16 = 3)), 0)
        |      AS BIGINT) AS m3_sum
        |  FROM tl)
        |SELECT * FROM img UNION ALL SELECT * FROM txt ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val pngs = (0L until 50L).map { i =>
        val w = 2 + (i % 3).toInt
        val h = 2 + (i % 2).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, (((i * 41 + x * 17 + y * 7) % 256).toInt << 16) |
            ((i % 256).toInt << 8) | ((x * y) % 256))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (i, bos.toByteArray)
      }
      import s.implicits._
      val imgDf = pngs.toDF("doc_id", "payload")
      val txtDf = table(s, dir, "documents").filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          substring(col("text"), 1, 512).cast("binary").as("payload"))
      val packed = Multimodal.pack(imgDf.unionByName(txtDf), col("doc_id"), col("payload"))
      val px = col("width").cast("double") * col("height").cast("double")
      // integer-lane export: images recover the exact channel sum /
      // histogram count; fallbacks the exact byte-lane sums
      Multimodal.decodeFeatures(packed, dim = 16)
        .select(col("doc_id"), col("decoded"), col("width"), col("height"),
          when(col("decoded"),
              round(element_at(col("features"), 1) * lit(255.0) * px))
            .otherwise(round(element_at(col("features"), 1) * lit(255.0)))
            .cast("long").as("m0_sum"),
          when(col("decoded"), round(element_at(col("features"), 4) * px))
            .otherwise(round(element_at(col("features"), 4) * lit(255.0)))
            .cast("long").as("m3_sum"))
        .orderBy("doc_id")
    },
    // D12d: REAL audio decode through the pure-JVM WAV kernel — a
    // deterministic corpus of id-keyed square waves (amplitude, period,
    // and rate all vary by id) plus text payloads that must take the
    // decoded=false fallback. DuckDB has no audio codec → rows-only;
    // hand-computed exactness lives in MultimodalSpec.
    // EXACT oracle since r11: the WAV corpus is planted square waves,
    // and every feature comes out DYADIC-exact — samples are
    // amp/32768 (exactly representable: |amp| < 2^11, /2^15 is pure
    // scaling), squares and their ≤64-term equal-value sums stay
    // exact, sqrt of an exact square is exact — so rms == peak ==
    // amp/32768 bit-for-bit and zcr = crossings/63 replays as integer
    // arithmetic. The oracle recomputes all of it from the planted
    // parameters; a WAV header/PCM parsing bug of even one sample
    // would hash-fail. (Tie analysis: x·10⁶+0.5 integer needs a 5^6
    // factor a 2^-15-grid value can't supply → round(,6) can never
    // sit on a tie.)
    Q(
      "q_media_audio",
      """WITH w AS (SELECT i FROM range(40) t(i)),
        |sg AS (
        |  SELECT w.i, s.j,
        |    CASE WHEN (s.j // (1 + w.i % 4)) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM w, range(64) s(j)),
        |cr AS (
        |  SELECT a.i, CAST(count(*) AS BIGINT) AS c
        |  FROM sg a JOIN sg b ON a.i = b.i AND b.j = a.j - 1 AND a.sgn <> b.sgn
        |  GROUP BY a.i),
        |wav AS (
        |  SELECT w.i AS doc_id, TRUE AS decoded,
        |    CAST(8000 + w.i * 100 AS INT) AS sample_rate,
        |    CAST(1 AS INT) AS channels,
        |    CAST(64 AS BIGINT) AS n_frames,
        |    CAST(64 * 1000000 // (8000 + w.i * 100) AS BIGINT) AS duration_us,
        |    round((500 + w.i * 37) / 32768.0, 6) AS rms,
        |    round(coalesce(cr.c, 0) / 63.0, 6) AS zcr,
        |    round((500 + w.i * 37) / 32768.0, 6) AS peak
        |  FROM w LEFT JOIN cr ON cr.i = w.i),
        |txt AS (
        |  SELECT doc_id + 1000000 AS doc_id, FALSE AS decoded,
        |    CAST(0 AS INT) AS sample_rate, CAST(0 AS INT) AS channels,
        |    CAST(0 AS BIGINT) AS n_frames, CAST(0 AS BIGINT) AS duration_us,
        |    0.0 AS rms, 0.0 AS zcr, 0.0 AS peak
        |  FROM documents WHERE doc_id < 20)
        |SELECT * FROM wav UNION ALL SELECT * FROM txt
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val wavs = (0L until 40L).map { i =>
        val amp = (500 + i * 37).toShort
        val period = 1 + (i % 4).toInt
        val samples = Array.tabulate(64) { j =>
          (if ((j / period) % 2 == 0) amp else (-amp).toShort): Short
        }
        (i, Multimodal.wavPcm16(8000 + i.toInt * 100, 1, samples))
      }
      import s.implicits._
      val wavDf = wavs.toDF("doc_id", "media")
      val txtDf = table(s, dir, "documents").filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          col("text").cast("binary").as("media"))
      Multimodal.audioFeatures(wavDf.unionByName(txtDf))
        .select(col("doc_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_frames"), col("duration_us"),
          round(col("rms"), 6).as("rms"),
          round(col("zero_cross_rate"), 6).as("zcr"),
          round(col("peak"), 6).as("peak"))
        .orderBy("doc_id")
    },

    // D42b: audio near-dup over the energy-envelope fingerprint — id i
    // and i+1000 are gain/wobble twins (one envelope window nudged),
    // text payloads stay out of pairing entirely. EXACT oracle since
    // r11: the envelope signature replays as integer arithmetic
    // (envSigSql — each window's RMS is dyadic-exact amp/32768) and
    // the 8-chunk blocked pairing equals brute Hamming by pigeonhole,
    // so one brute SQL pair join reproduces the engine's output bit
    // for bit; a WAV-parse or windowing bug of one sample would
    // hash-fail.
    Q(
      "q_media_audio_neardup",
      s"""WITH ${envSigSql("au")},
         |${hammingPairsSql("ausig", 6, "pairs")}
         |SELECT id_a, id_b, hamming FROM pairs
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup.audioNearDup(
          audioNearDupCorpus(s, dir), maxDist = 6)
        .orderBy("id_a", "id_b")
    },

    // D42/D42b audit: the two Hamming media tiers scored against
    // BRUTE all-pairs Hamming over their own decoded signatures — the
    // 8×8-bit pigeonhole blocking measured as fact rather than argued
    // from the chunk arithmetic (P = R = 1.0 expected; DedupSpec
    // asserts the floor, MultimodalSpec keeps the planted-twin view).
    // The corpora are the near-dup queries' own builders (shared
    // helpers, never drifting copies) — audit-sized by construction,
    // which is what makes the quadratic truth tier safe. EXACT oracle
    // since r11: both signature families replay in SQL (dhashSigSql /
    // envSigSql), the truth tier is the same brute pair join, and
    // found == truth by pigeonhole — so the oracle derives each row's
    // counts from its own replayed pair list instead of asserting
    // them.
    Q(
      "q_audit_media_hamming",
      s"""WITH ${dhashSigSql("dh")},
         |${envSigSql("au")},
         |${hammingPairsSql("dhsig", 6, "ipairs")},
         |${hammingPairsSql("ausig", 6, "apairs")}
         |SELECT 'audio_vs_brute_hamming' AS tier, n AS n_found, n AS n_truth,
         |  n AS n_hit, CAST(1.0 AS DOUBLE) AS "precision",
         |  CAST(1.0 AS DOUBLE) AS recall, CAST(1.0 AS DOUBLE) AS f1
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM apairs)
         |UNION ALL
         |SELECT 'dhash_vs_brute_hamming', n, n, n, CAST(1.0 AS DOUBLE),
         |  CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM ipairs)
         |ORDER BY tier""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Dedup
      val imgSigs = Multimodal.perceptualHash(phashCorpus(s, dir))
        .filter(col("decoded"))
        .select(col("doc_id").as("id"), col("phash").as("sig"))
        .transform(materialize(_))
      val audSigs = Multimodal.audioFingerprint(audioNearDupCorpus(s, dir))
        .filter(col("decoded"))
        .select(col("doc_id").as("id"), col("sig"))
        .transform(materialize(_))
      Dedup.auditPairs(
          Dedup.hammingPairs(imgSigs, maxDist = 6, nChunks = 8),
          Dedup.hammingPairsBrute(imgSigs, maxDist = 6))
        .withColumn("tier", lit("dhash_vs_brute_hamming"))
        .unionByName(Dedup.auditPairs(
            Dedup.hammingPairs(audSigs, maxDist = 6, nChunks = 8),
            Dedup.hammingPairsBrute(audSigs, maxDist = 6))
          .withColumn("tier", lit("audio_vs_brute_hamming")))
        .select("tier", "n_found", "n_truth", "n_hit",
          "precision", "recall", "f1")
        .orderBy("tier")
    },

    // D42: perceptual-hash image near-dup — deterministic gradient
    // PNGs where id i and i+1000 are photometric near-twins (one
    // perturbed pixel), plus text payloads that must stay out of
    // Hamming pairing entirely. EXACT oracle since r11: the dHash is
    // SQL-replayable end to end — PNG round-trips losslessly, the 9×8
    // resample is integer math (dhashSigSql), and 8-chunk blocking
    // equals brute Hamming by pigeonhole — so a single-pixel codec or
    // resample bug would hash-fail; planted-recall exactness stays in
    // MultimodalSpec/DedupSpec.
    Q(
      "q_media_phash",
      s"""WITH ${dhashSigSql("dh")},
         |${hammingPairsSql("dhsig", 6, "pairs")}
         |SELECT id_a, id_b, hamming FROM pairs
         |ORDER BY id_a, id_b""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup.imageNearDup(phashCorpus(s, dir), maxDist = 6)
        .orderBy("id_a", "id_b")
    },
    Q(
      "q_binary_meta",
      """SELECT doc_id,
        |  ['png', 'jpeg', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(32 + (doc_id * 7) % 97 AS INT) AS width,
        |  CAST(32 + (doc_id * 13) % 61 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Multimodal.pack(table(s, dir, "documents"), col("doc_id"), col("text"))
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")
    },

    // D12b: strided frame sampling over the binary payload — the
    // explode-shaped video-pipeline op, oracle-checked byte-for-byte
    // (ASCII corpus → frames decode to comparable strings).
    Q(
      "q_media_frames",
      """WITH m AS (
        |  SELECT doc_id, text,
        |    greatest(CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 1) AS nf
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(octet_length(encode(substring(text, CAST(i AS INT) * 64 + 1, 64))) AS INT) AS frame_bytes,
        |  substring(text, CAST(i AS INT) * 64 + 1, 64) AS frame_str
        |FROM (SELECT doc_id, text, unnest(range(0, nf, 4)) AS i FROM m)
        |ORDER BY doc_id, frame_idx""".stripMargin
    ) { (s, dir) =>
      val packed = Multimodal.pack(table(s, dir, "documents"), col("doc_id"), col("text"))
      Multimodal.sampleFrames(packed, frameBytes = 64, stride = 4)
        .select(
          col("doc_id"),
          col("frame_idx").cast("int").as("frame_idx"),
          col("frame_bytes").cast("int").as("frame_bytes"),
          col("frame").cast("string").as("frame_str"))
        .orderBy("doc_id", "frame_idx")
    },

    // D100: scene-change detection over the sampled frame stream.
    // EXACT oracle since r11: the frames here are raw text-byte
    // windows, so every feature lane is a byteFold sum — and since
    // r11 the distance runs on 1/255-QUANTIZED integer lanes (the
    // sceneChanges determinism contract, shared with the E24 stream
    // twin), so the whole pipeline replays as integer byte-lane
    // arithmetic: hex-pair byte extraction, per-frame 16-lane sums,
    // lagged |Δ|-sum, one division + 4-dp floor. Boundary exactness
    // stays MultimodalSpec's planted-cut proof.
    Q(
      "q_media_scenes",
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    coalesce(octet_length(encode(text)), 0) AS n
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, n, list_transform(range(1, n + 1), j ->
        |    (strpos('0123456789ABCDEF', substr(hx, 2*j-1, 1))-1)*16 +
        |     strpos('0123456789ABCDEF', substr(hx, 2*j, 1))-1) AS bs
        |  FROM d),
        |fr AS (
        |  SELECT doc_id, n, bs, f.idx
        |  FROM db, LATERAL (SELECT unnest(range(0, greatest(n // 64, 1))) AS idx) f),
        |lf AS (
        |  SELECT doc_id, idx, list_transform(range(0, 16), l ->
        |    coalesce(list_sum(list_filter(
        |      list_slice(bs, idx*64 + 1, least(idx*64 + 64, n)),
        |      (v, j) -> (j-1) % 16 = l)), 0)) AS lanes
        |  FROM fr),
        |lg AS (
        |  SELECT doc_id, idx, lanes,
        |    lag(lanes) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
        |  FROM lf),
        |sc AS (
        |  SELECT doc_id AS video_id, CAST(idx AS INT) AS frame_idx,
        |    CASE WHEN prev IS NULL THEN NULL
        |         ELSE floor(CAST(list_sum(list_transform(range(1, 17), k ->
        |                abs(lanes[k] - prev[k]))) AS DOUBLE)
        |              / 4080.0 * 1e4) / 1e4
        |    END AS frame_dist
        |  FROM lg)
        |SELECT video_id, frame_idx, frame_dist,
        |  frame_dist IS NOT NULL AND frame_dist > 0.1 AS scene_change
        |FROM sc ORDER BY video_id, frame_idx""".stripMargin
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      graft.operators.Multimodal.sceneChanges(docs, col("doc_id"),
          col("text").cast("binary"), frameBytes = 64, stride = 1,
          threshold = 0.1)
        .orderBy("video_id", "frame_idx")
    }
  )
}
