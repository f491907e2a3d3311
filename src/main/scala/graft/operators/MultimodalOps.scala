package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.SmallResult

/** Multimodal-column plumbing: media (image/audio/video) carried as
  * opaque `binary` columns with typed metadata, processed partition-wise.
  *
  * Image (PNG/JPEG via `ImageIO`) and audio (WAV/PCM via
  * `javax.sound.sampled`) decode are REAL — pure-JDK codecs, no native
  * deps. Video decode is the one deterministic stub (no pure-JDK video
  * codec exists); everything around it — the schema, the binary
  * column, the per-partition batching, the feature output shape — is
  * real and is what matters for the Spark plan. At 100 TB the pattern
  * is: binary payload + metadata in parquet, decode in `mapPartitions`
  * (one codec init per partition, not per row), feature columns out,
  * no driver involvement.
  */
object MultimodalOps {

  /** A media row: payload + typed metadata, synthesized deterministically
    * from `documents` (text bytes stand in for encoded media). */
  case class MediaRow(doc_id: Long, source: String, media: Array[Byte],
                      width: Int, height: Int, format: String)

  /** Decoded features: fixed-shape per-frame summary. `byte_sum` (the
    * raw integer sum of byte values) rides along so aggregates over
    * many rows can stay in exact integer arithmetic — a ROUNDed float
    * aggregate of `mean_byte` would depend on partial-merge order. */
  case class MediaFeatures(doc_id: Long, source: String, n_bytes: Long,
                           n_frames: Long, byte_sum: Long, mean_byte: Double)

  /** (doc_id, source, text) → media rows; shared by the base table and
    * the planted x40 twins so both derive payload + metadata by the
    * same rule. */
  private def mediaFrom(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"source", $"text".cast("binary").as("media"))
      .withColumn("width", (octet_length($"media") % 64 + 16).cast("int"))
      .withColumn("height", (expr("octet_length(media) div 7") % 48 + 16).cast("int"))
      .withColumn("format", when($"doc_id" % 3 === 0, "jpeg")
        .when($"doc_id" % 3 === 1, "png").otherwise("webm"))
      .as[MediaRow]
  }

  /** documents → media table with binary payload + metadata. The width/
    * height/format derivation is arbitrary-but-deterministic so tests
    * and the oracle can reproduce it. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRow] =
    mediaFrom(Tables.rebalance(Tables.documents(s, d)))

  /** doc_id offset for planted twin rows — far above fixture ids, far
    * below the scale-corpus key shift (100M), so twin ids collide with
    * neither at any sweep multiple. */
  val TwinIdOffset = 10000000L

  /** x40's corpus: the media table PLUS deterministic planted
    * near-duplicate twins. The raw fixture has no two documents within
    * hamming ≤ 3 of each other, so without planting, x40's oracle
    * comparison is vacuous (0 = 0 rows — a sign-flipped band key would
    * still pass). Two twin families, both pure functions of the
    * fixture text so DuckDB rebuilds them verbatim:
    *  - NEAR twins (doc_id % 20 = 0): first char → ' ' (32, below any
    *    text's mean byte) and the length/2 char → '~' (126, above it)
    *    — two sampled lum positions forced across the average-hash
    *    threshold, length preserved so every other sampled position
    *    is untouched. Measured on the fixture: most pairs land at
    *    hamming 1–2 (found), a few drift past 3 (correctly excluded —
    *    the threshold is exercised from both sides).
    *  - EXACT twins (doc_id % 50 = 7, disjoint by parity): verbatim
    *    copies — guaranteed hamming-0 pairs, so the query can never
    *    go silently vacuous again.
    * Docs ≤ 60 chars are skipped (the perturbation needs two distinct
    * sampled positions). */
  def mediaTableWithTwins(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    val eligible = Tables.rebalance(Tables.documents(s, d))
      .filter(length($"text") > 60)
    val near = eligible.filter($"doc_id" % 20 === 0)
      .select(($"doc_id" + TwinIdOffset).as("doc_id"), $"source",
        expr("concat(' ', substring(text, 2, (length(text) div 2) - 1), " +
          "'~', substring(text, (length(text) div 2) + 2))").as("text"))
    val exact = eligible.filter($"doc_id" % 50 === 7)
      .select(($"doc_id" + TwinIdOffset).as("doc_id"), $"source", $"text")
    mediaTable(s, d).unionByName(mediaFrom(near.unionByName(exact)))
  }

  /** FAKE DECODE — stands in for an image/video codec. Deterministic:
    * "frames" are 100-byte windows; the "pixel statistic" is the mean
    * byte value. A real build swaps only the body of this function for
    * e.g. a JNI codec call; the partition-wise batching, input schema
    * and output shape stay identical. */
  def fakeDecode(r: MediaRow): MediaFeatures = {
    val bytes = r.media
    val nFrames = (bytes.length + 99) / 100   // ceil; same rule as sampleFrames
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    val mean = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length
    MediaFeatures(r.doc_id, r.source, bytes.length.toLong, nFrames.toLong,
      sum, mean)
  }

  /** Partition-wise decode: one "codec init" per partition (the `val
    * codec = ...` slot), rows streamed through it — the mapInPandas
    * batch shape, in Scala. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real pipeline: initialize the codec/model here, once per partition
      rows.map(fakeDecode)
    }
  }

  /** REAL DECODE for image rows — `javax.imageio` (pure JDK, no native
    * deps): PNG/JPEG payloads are decoded to pixels and summarized over
    * the DECODED raster (n_frames = 1 image; byte_sum = sum of RGB
    * channel byte values; mean_byte = byte_sum / (w·h·3)). Non-image
    * formats and undecodable payloads fall back to the deterministic
    * stub, so mixed corpora flow through ONE code path. This is the
    * "swap only the body" upgrade the stub advertises: the schema,
    * partition-wise batching, and output shape are exactly
    * `decodeFeatures`'s. */
  /** The ONE image-decodability rule (shared by realDecode and
    * resizeReal): PNG/JPEG payloads through `ImageIO`, anything else —
    * or anything the decoder rejects — is null (= take the stub path).
    * NonFatal, not just IOException: ImageIO decoders throw unchecked
    * exceptions (IllegalArgumentException, AIOOBE, NegativeArraySize…)
    * on many malformed payloads, and one bad image must fall back to
    * the stub, not kill the stage. */
  /** Magic-byte sniff (PNG PNG / JPEG FFD8) BEFORE the codec:
    * `ImageIO.read` on a non-image payload still pays a full
    * reader-registry scan + stream setup per row before returning
    * null — at corpus scale that is a per-row constant spent proving
    * the negative. The sniff NARROWS decoding to payloads whose bytes
    * are actually PNG/JPEG — the documented PNG/JPEG-only rule applied
    * to content, not just the format label: a mislabeled row (format
    * says png/jpeg, bytes are GIF/BMP/…) takes the stub path, where a
    * bare ImageIO dispatch might have decoded it. */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    (b.length >= 8 && (b(0) & 0xff) == 0x89 &&
      b(1) == 'P'.toByte && b(2) == 'N'.toByte && b(3) == 'G'.toByte) ||
    (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff)

  private def tryReadImage(r: MediaRow): java.awt.image.BufferedImage =
    if (r.format != "png" && r.format != "jpeg") null
    else if (!looksLikeImage(r.media)) null
    else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
    catch { case scala.util.control.NonFatal(_) => null }

  /** REAL DECODE for audio rows — `javax.sound.sampled` (pure JDK, the
    * ImageIO move replayed for audio): `"wav"` payloads decode to raw
    * PCM and the features summarize the DECODED samples (n_frames =
    * PCM frame count; byte_sum/mean_byte over the decoded bytes, not
    * the container bytes — headers never leak into the statistics).
    * Non-wav or undecodable rows return null (= take the stub path).
    * Video remains the one permanent stub: no pure-JDK video codec
    * exists. */
  private def tryDecodeAudio(r: MediaRow): MediaFeatures =
    if (r.format != "wav") null
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.media))
      try {
        val pcm = in.readAllBytes()
        var sum = 0L
        var i = 0
        while (i < pcm.length) { sum += pcm(i) & 0xff; i += 1 }
        val nFrames = pcm.length / math.max(1, in.getFormat.getFrameSize)
        MediaFeatures(r.doc_id, r.source, r.media.length.toLong,
          nFrames.toLong, sum,
          if (pcm.length == 0) 0.0 else sum.toDouble / pcm.length)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  def realDecode(r: MediaRow): MediaFeatures = {
    val img = tryReadImage(r)
    if (img == null) {
      val audio = tryDecodeAudio(r)
      if (audio == null) fakeDecode(r) else audio
    }
    else {
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      val nChan = img.getWidth.toLong * img.getHeight * 3L
      MediaFeatures(r.doc_id, r.source, r.media.length.toLong, 1L, sum,
        if (nChan == 0) 0.0 else sum.toDouble / nChan)
    }
  }

  /** decodeFeatures with the real image codec behind it (same
    * partition-wise plan shape; `ImageIO` readers are looked up once
    * per JVM and reused across the partition's rows). */
  def decodeFeaturesReal(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows => rows.map(realDecode) }
  }

  /** The stub resize rule for one row: deterministic byte subsampling
    * to ≤ (w·h) payload bytes, metadata updated to the target dims. */
  private def resizeStubRow(r: MediaRow, w: Int, h: Int): MediaRow = {
    val target = math.max(1, math.min(r.media.length, w * h))
    val step = math.max(1, r.media.length / target)
    val out = r.media.indices.by(step).take(target).map(r.media).toArray
    r.copy(media = out, width = w, height = h)
  }

  /** FAKE RESIZE — stands in for an image resize: deterministic byte
    * subsampling. Schema/partitioning identical to a real resize. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows => rows.map(resizeStubRow(_, w, h)) }
  }

  /** REAL RESIZE for image rows — decode via `ImageIO`, scale with
    * `Graphics2D` bilinear interpolation (pure JDK, no native deps),
    * re-encode as PNG; metadata follows the new raster. Non-image and
    * undecodable rows take the stub fallback, so a mixed corpus flows
    * through ONE partition-wise path — the same "swap only the body"
    * upgrade `realDecode` makes to the decode stub. */
  def resizeReal(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    // clamp like the stub rule does — a degenerate target must not
    // throw from BufferedImage and kill the stage
    val tw = math.max(1, w)
    val th = math.max(1, h)
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = tryReadImage(r)
        if (img == null) resizeStubRow(r, tw, th)
        else {
          // ARGB canvas: an alpha-channel PNG decodes to ARGB, and
          // drawing it onto an uninitialized RGB buffer would composite
          // transparent regions to black — PNG round-trips alpha fine
          val out = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_ARGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, tw, th, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          r.copy(media = bos.toByteArray, width = tw, height = th, format = "png")
        }
      }
    }
  }

  /** FAKE FRAME-SAMPLE — stands in for video frame extraction: every
    * nth 100-byte "frame" window becomes one output row (doc_id,
    * frame_idx, frame payload). The row explosion shape is the real
    * part; the byte windowing is the stub. */
  def sampleFrames(media: Dataset[MediaRow], everyNth: Int)
      : Dataset[(Long, Int, Array[Byte])] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      // ceil(len/100): an exact multiple of 100 must NOT produce a
      // phantom empty trailing frame, and a 0-byte payload has none.
      val nFrames = (r.media.length + 99) / 100
      (0 until nFrames by everyNth).map { f =>
        val from = f * 100
        val until = math.min(from + 100, r.media.length)
        (r.doc_id, f, r.media.slice(from, until))
      }
    }
  }

  /** FAKE FEATURE-EXTRACT — stands in for an image/audio embedding
    * model: a 16-bucket byte histogram as an Array[Double] of RAW
    * integer counts. Deterministic, partition-wise, and shaped exactly
    * like a real embedding column — so it composes directly with the
    * similarity operators. Counts stay unnormalized on purpose: cosine
    * is scale-invariant, and integer-valued doubles keep the similarity
    * arithmetic exact (and therefore SQL-oracle-reproducible); callers
    * needing unit vectors apply their own L2 step. */
  def featurize(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real pipeline: load the embedding model here, once per partition
      rows.map { r =>
        val hist = new Array[Double](16)
        var i = 0
        while (i < r.media.length) { hist((r.media(i) & 0xff) / 16) += 1.0; i += 1 }
        (r.doc_id, hist)
      }
    }.toDF("doc_id", "feat")
  }

  /** Media similarity search: decode → featurize → exact cosine top-5
    * against doc 0's features (the multimodal → ANN composition). The
    * stub featurizer is integer-exact over the text bytes, so DuckDB
    * reproduces the histograms from the string form and the cosine
    * bit-for-bit (integer dot + norms, one division). */
  def mediaKnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = featurize(mediaTable(s, d))
    val probe = feats.filter($"doc_id" === 0).select($"feat".as("qf"))
    feats.filter($"doc_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select($"doc_id", round(CoreQueries.cosine($"feat", $"qf"), 4).as("sim"))
      .orderBy($"sim".desc, $"doc_id")
      .limit(5)
  }

  /** Driver-checkable query: per-source feature aggregates. Every value
    * derives from byte lengths/contents of the UTF-8 text, so DuckDB
    * reproduces it exactly via encode(). All outputs are exact BIGINTs
    * — `byte_value_sum` carries the corpus byte-value total (the global
    * mean byte is byte_value_sum/total_bytes, derivable) instead of a
    * ROUNDed avg whose fp partial-merge order could land on a rounding
    * midpoint and flip the cross-engine hash. */
  def multimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeFeatures(mediaTable(s, d)).toDF()
      .groupBy($"source")
      .agg(count("*").as("n"),
           sum($"n_bytes").as("total_bytes"),
           sum($"n_frames").as("total_frames"),
           sum($"byte_sum").as("byte_value_sum"))
      .smallOrdered($"source")
  }

  // ---- perceptual-hash media dedup (x40) --------------------------------

  /** Average-hash geometry: 60 bits (the x03 sign-safe width) laid out
    * as a 10×6 luminance grid for real images, or 60 sampled byte
    * positions for undecodable payloads. */
  val PhBits = 60
  val PhCols = 10
  val PhRows = 6
  /** 15-bit banding chunks: hamming ≤ PhMaxHamming(=3) ⇒ pigeonhole
    * guarantees ≥ 1 equal chunk among PhChunks(=4). */
  val PhChunks = 4
  val PhMaxHamming = 3L

  private def packPhBits(lums: Array[Long]): Long = {
    var sum = 0L; var k = 0
    while (k < PhBits) { sum += lums(k); k += 1 }
    var h = 0L; k = 0
    // classic average-hash bit rule, division-free: lum_k > mean ⟺
    // lum_k · PhBits > Σlum — exact integers on every engine
    while (k < PhBits) { if (lums(k) * PhBits > sum) h |= 1L << k; k += 1 }
    h
  }

  /** The 60-bit perceptual hash of one media row (aHash — the classic
    * average-hash of the pHash family): decodable images hash their
    * DECODED 10×6 nearest-neighbor grayscale grid (robust to pixel
    * noise and re-encoding — the property image dedup exists for);
    * other payloads hash 60 evenly-sampled byte values, deterministic
    * and oracle-reproducible. Empty payloads have no hash. */
  def perceptualHash(r: MediaRow): Option[Long] = {
    val img = tryReadImage(r)
    if (img != null && img.getWidth > 0 && img.getHeight > 0) {
      val lums = new Array[Long](PhBits)
      var k = 0
      while (k < PhBits) {
        val x = (k % PhCols) * img.getWidth / PhCols
        val y = (k / PhCols) * img.getHeight / PhRows
        val rgb = img.getRGB(x, y)
        lums(k) =
          (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3L
        k += 1
      }
      Some(packPhBits(lums))
    } else if (r.media.length == 0) None
    else {
      val lums = new Array[Long](PhBits)
      var k = 0
      while (k < PhBits) {
        lums(k) = r.media(k * r.media.length / PhBits) & 0xffL
        k += 1
      }
      Some(packPhBits(lums))
    }
  }

  /** (doc_id, ph) for every non-empty payload — partition-wise like
    * every other decode (codec init once per partition). */
  def perceptualHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(r => perceptualHash(r).map(h => (r.doc_id, h)))
    }.toDF("doc_id", "ph")
  }

  /** x40 — media near-dup pairs by perceptual hash: band the 60-bit
    * hashes into PhChunks 15-bit chunks (pigeonhole: hamming ≤ 3 ⇒
    * some chunk equal — the x03 plan shape exactly), verify candidates
    * by exact hamming, emit (da, db, hamming) pairs. Positional byte
    * sampling makes the fallback path alignment-sensitive, so on text
    * stand-ins it finds exact/byte-identical duplicates; on REAL
    * images the decoded-grid path pairs noisy/re-encoded copies too
    * (spec-verified with planted noisy PNGs). Runs over
    * [[mediaTableWithTwins]]: the raw fixture holds no near-dup pairs,
    * so the planted twins are what keep the oracle comparison
    * non-vacuous — hamming-0 (exact twins), hamming-1..3 (near twins,
    * found) and hamming>3 (near twins drifted past the threshold,
    * excluded) are all represented. */
  def mediaPhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = perceptualHashes(mediaTableWithTwins(s, d))
    val chunkBits = PhBits / PhChunks
    val chunkMask = (1L << chunkBits) - 1
    val chunks = sigs.select($"doc_id", $"ph",
        posexplode(expr(s"transform(sequence(0, ${PhChunks - 1}), " +
          s"c -> shiftright(ph, c * $chunkBits) & $chunkMask)")))
      .toDF("doc_id", "ph", "chunk", "key")
    chunks.groupBy("chunk", "key")
      .agg(collect_set(struct($"doc_id", $"ph")).as("ds"))
      .filter(size($"ds") > 1)
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
              $"a.ph".as("pha"), $"b.ph".as("phb"))
      .distinct()
      .select($"da", $"db",
        bit_count($"pha".bitwiseXOR($"phb")).cast("long").as("hamming"))
      .filter($"hamming" <= PhMaxHamming)
      // in-job per-pair denominator for the sweep ladder (x02 rule)
      .observe("x40_dup_pairs", count(lit(1)).as("rows"))
      .orderBy($"da", $"db")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x11_multimodal_meta" -> multimodalMeta _,
    "x15_media_knn"       -> mediaKnn _,
    "x40_media_phash_dedup" -> mediaPhashDedup _,
  )

  val oracleSql: Map[String, String] = Map(
    // byte values of UTF-8 text == ord() over ASCII chars; the fixture
    // text is ASCII (verified in MultimodalSpec), so DuckDB can compute
    // the byte-value sum from the string form. Integer-exact end to end.
    "x11_multimodal_meta" ->
      """WITH f AS (SELECT source, octet_length(encode(text)) AS n_bytes,
        |  (octet_length(encode(text)) + 99) // 100 AS n_frames,
        |  (SELECT sum(unicode(c)) FROM unnest(string_split(text, '')) t(c))
        |    AS byte_sum
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |  CAST(sum(byte_sum) AS BIGINT) AS byte_value_sum
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // 16-bucket byte histograms rebuilt from the (ASCII) text chars;
    // cosine = integer dot / (sqrt · sqrt) — exactly the arithmetic the
    // Spark CosineSimilarity loop performs on the same integer counts.
    "x15_media_knn" ->
      """WITH ch AS (SELECT doc_id, unicode(c) // 16 AS b
        |            FROM documents, unnest(string_split(text, '')) t(c)),
        |hist AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c
        |         FROM ch GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, r.range AS b
        |         FROM (SELECT doc_id FROM documents) d, range(16) r),
        |vec AS (SELECT g.doc_id,
        |          list(COALESCE(h.c, 0.0) ORDER BY g.b) AS v
        |        FROM grid g LEFT JOIN hist h
        |          ON h.doc_id = g.doc_id AND h.b = g.b
        |        GROUP BY g.doc_id)
        |SELECT v.doc_id,
        |  ROUND(list_dot_product(v.v, q.v) /
        |    (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(q.v, q.v))),
        |    4) AS sim
        |FROM vec v, (SELECT v FROM vec WHERE doc_id = 0) q
        |WHERE v.doc_id <> 0
        |ORDER BY sim DESC, v.doc_id LIMIT 5""".stripMargin,
    // x40: on the fixture every payload is a text stand-in (no real
    // image bytes), so every hash takes the byte-sampled path — which
    // the ASCII text reproduces char-for-char (the x11/x15 idiom). The
    // oracle rebuilds the planted twin families (mediaTableWithTwins'
    // pure-function perturbation) and verifies banding+verify against
    // ALL-PAIRS hamming over base ∪ twins (the x03 oracle convention:
    // the pigeonhole makes them equivalent).
    "x40_media_phash_dedup" ->
      s"""WITH eligible AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) > 60),
        |near AS (SELECT doc_id + $TwinIdOffset AS doc_id,
        |    concat(' ', substr(text, 2, (length(text) // 2) - 1), '~',
        |           substr(text, (length(text) // 2) + 2)) AS text
        |  FROM eligible WHERE doc_id % 20 = 0),
        |exact AS (SELECT doc_id + $TwinIdOffset AS doc_id, text
        |  FROM eligible WHERE doc_id % 50 = 7),
        |allm AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM near UNION ALL SELECT * FROM exact),
        |lums AS (
        |  SELECT doc_id, k.range AS k,
        |    unicode(substr(text,
        |      CAST((k.range * length(text)) // $PhBits AS INT) + 1, 1)) AS lum
        |  FROM allm, range($PhBits) k
        |  WHERE length(text) > 0),
        |m AS (SELECT doc_id, sum(lum) AS s FROM lums GROUP BY 1),
        |sig AS (SELECT l.doc_id,
        |    CAST(sum(CASE WHEN l.lum * $PhBits > m.s
        |             THEN (1::BIGINT << l.k) ELSE 0 END) AS BIGINT) AS ph
        |  FROM lums l JOIN m USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= $PhMaxHamming
        |ORDER BY da, db""".stripMargin,
  )
}
