package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media blob + typed metadata (the multimodal row contract). */
case class MediaRow(doc_id: Long, media: Array[Byte])

/** Real pixel statistics decoded from one PPM image. */
case class PpmFeatureRow(doc_id: Long, width: Long, height: Long,
                         mean_r_milli: Long, mean_g_milli: Long,
                         mean_b_milli: Long, mean_luma_milli: Long,
                         max_luma: Long, min_luma: Long)

/** Real 2× box-downsample summary for one PPM image. */
case class PpmResizeRow(doc_id: Long, new_width: Long, new_height: Long,
                        orig_bytes: Long, thumb_bytes: Long, thumb_sum: Long)

/** 8×8 average-hash of one decoded image, as 16 lowercase hex chars. */
case class ImageHashRow(doc_id: Long, width: Long, height: Long,
                        phash: String)

/** Real sample statistics decoded from one PCM WAV clip. */
case class WavFeatureRow(doc_id: Long, sample_rate: Long, n_samples: Long,
                         duration_ms: Long, peak: Long, mean_square: Long,
                         zero_crossings: Long)

/** Integer energy of one fixed-length analysis frame of a decoded clip. */
case class WavFrameRow(doc_id: Long, frame_idx: Long, frame_samples: Long,
                       energy: Long)

/** Energy-contour fingerprint of one decoded clip, as 8 hex chars. */
case class AudioFpRow(doc_id: Long, n_frames: Long, afp: String)

/** Real per-frame statistics decoded from one Y4M video clip. */
case class VideoFrameRow(doc_id: Long, frame_idx: Long,
                         mean_luma_milli: Long, sum_abs_diff: Long,
                         is_cut: Boolean)

/** Temporal luma-contour fingerprint of one decoded clip, as 8 hex chars. */
case class VideoFpRow(doc_id: Long, n_frames: Long, vfp: String)

/** Scene decomposition of one decoded clip (keyframes = scene starts). */
case class VideoSceneRow(doc_id: Long, width: Long, height: Long,
                         n_frames: Long, n_cuts: Long, keyframes: String)

/** Multimodal-column operators (north-star extension): image/audio/video
  * travel as opaque `binary` columns with a typed metadata struct; decode /
  * feature-extraction / frame-sampling are engine operators over those
  * columns.
  *
  * The image decode is REAL: [[Multimodal.decodePpm]] parses binary P6
  * PPM (header incl. `#` comments + raw RGB triplets) entirely in the
  * JVM, and feature extraction / resize run genuine pixel math over the
  * decoded bytes. The fixture images ([[Multimodal.ppmMediaTable]]) are
  * synthesized from a closed-form integer pixel recipe, which is what
  * lets the DuckDB oracle pin the decode: it recomputes the expected
  * statistics from the recipe, independently of the binary path, so any
  * header-parse or byte-indexing defect breaks the hash match. The audio
  * decode is equally real: [[Multimodal.decodeWav]] walks RIFF/WAVE
  * chunks (unknown chunks skipped with the odd-size pad byte, per the
  * RIFF spec) and extracts 16-bit little-endian PCM, and the feature
  * operators ([[audioFeatures]], [[audioFrames]]) do genuine
  * signal math over the decoded samples, again pinned by a
  * recipe-recomputing oracle. Video is real too: [[Multimodal.decodeY4m]]
  * parses YUV4MPEG2 (tagged stream header, per-frame `FRAME` markers,
  * raw luma planes) and the scene operators ([[videoFrameStats]],
  * [[videoScenes]]) run genuine pixel-domain temporal math — scene-cut
  * detection by mean-abs-diff — over the decoded frames. Only generic
  * byte-window sampling ([[sampleFrames]]) remains codec-free.
  *
  * Scale: media tables at 100 TB are dominated by blob bytes — the rules
  * encoded here are (1) never shuffle the blob: derive features/frames in
  * a map-only stage straight off the scan (the `mapPartitions` stages
  * below are the `mapInPandas` shape: one iterator per partition, no
  * per-row closure dispatch); (2) metadata lives in a struct column so
  * pruning drops the blob when a query only needs dimensions.
  */
object Multimodal {

  val FrameBytes = 16

  /** Synthesize a media table from `documents` (no binary fixtures ship
    * with the testdata): media = UTF-8 bytes of the text, metadata derived
    * deterministically from `n_chars`.
    */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        (lit(64L) + pmod(col("n_chars"), lit(576))).as("width"),
        (lit(48L) + pmod(col("n_chars"), lit(432))).as("height"),
        (expr("n_chars div 100") + 1L).as("n_frames")).as("meta"))

  /** Metadata + content-key projection. Reads width/height/kind from the
    * struct (column pruning can drop `media` if a caller selects only
    * these) plus blob-derived size and md5 content key.
    */
  def mediaMeta(documents: DataFrame): DataFrame =
    mediaTable(documents).select(
      col("doc_id"),
      col("meta.kind").as("kind"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      col("meta.n_frames").as("n_frames"),
      length(col("media")).cast("long").as("media_bytes"),
      md5(col("media")).as("content_key"))
      .orderBy(col("doc_id"))

  /** Frame sampling: explode `n_frames` fixed-stride byte windows out of
    * the blob; the per-frame key is md5 of the frame's own bytes. Byte
    * slicing stays in builtin `substring`-on-binary — map-only, no UDF.
    */
  def sampleFrames(documents: DataFrame): DataFrame =
    mediaTable(documents)
      .select(col("doc_id"), col("media"),
        explode(sequence(lit(0L), col("meta.n_frames") - 1L)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        substring_frame(col("media"), col("frame_idx")).as("frame"))
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"),
        md5(col("frame")).as("frame_key"))
      .orderBy(col("doc_id"), col("frame_idx"))

  private def substring_frame(media: org.apache.spark.sql.Column,
                              idx: org.apache.spark.sql.Column) =
    substring(media, (idx * FrameBytes + 1).cast("int"), lit(FrameBytes).cast("int"))

  /** REAL resize: decode each PPM, 2× box-downsample (each output pixel =
    * floor-mean of its 2×2 source block, per channel), re-encode as P6,
    * and report a flat summary — dimensions, real byte counts of both
    * binaries, and the resized pixel checksum. Decode → scale → re-encode
    * all happen inside one map-only partition iterator; nothing shuffles
    * and the blob never leaves the task. The checksum (sum of resized
    * sample bytes) is what the oracle recomputes from the pixel recipe —
    * it covers every output pixel, so a mis-indexed source block or a
    * wrong rounding mode flips the hash.
    */
  def resize(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    ppmMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (w, h, px) = decodePpm(r.media)
        val nw = w / 2; val nh = h / 2
        val out = new Array[Byte](nw * nh * 3)
        var y = 0
        while (y < nh) {
          var x = 0
          while (x < nw) {
            var c = 0
            while (c < 3) {
              val i00 = ((2 * y) * w + 2 * x) * 3 + c
              val i01 = i00 + 3
              val i10 = ((2 * y + 1) * w + 2 * x) * 3 + c
              val i11 = i10 + 3
              out((y * nw + x) * 3 + c) =
                (((px(i00) & 0xff) + (px(i01) & 0xff) +
                  (px(i10) & 0xff) + (px(i11) & 0xff)) / 4).toByte
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val thumb = encodePpm(nw, nh, out)
        PpmResizeRow(r.doc_id, nw, nh, r.media.length, thumb.length,
          out.foldLeft(0L)((s, b) => s + (b & 0xff)))
      }
    }.toDF().orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ PPM codec

  /** Fixture-image dimensions and pixel recipe, shared by the Spark-side
    * generator and the DuckDB oracle's independent recomputation. Pixel i
    * (row-major, 0-based) of doc d has channels
    * r = (7d+13i) mod 256, g = (11d+17i) mod 256, b = (3d+29i) mod 256;
    * dimensions w = 4 + d mod 5, h = 3 + d mod 4 (w even ≥ 4 is NOT
    * guaranteed — the resize floor-halves both).
    */
  private[graft] def ppmDims(docId: Long): (Int, Int) =
    ((4 + docId % 5).toInt, (3 + docId % 4).toInt)

  private[graft] def makePpm(docId: Long): Array[Byte] = {
    val (w, h) = ppmDims(docId)
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      px(3 * i) = ((docId * 7 + i * 13) % 256).toByte
      px(3 * i + 1) = ((docId * 11 + i * 17) % 256).toByte
      px(3 * i + 2) = ((docId * 3 + i * 29) % 256).toByte
      i += 1
    }
    encodePpm(w, h, px)
  }

  /** Binary P6 PPM: `P6\n<w> <h>\n255\n` + row-major RGB bytes. */
  private[graft] def encodePpm(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    require(px.length == w * h * 3, "pixel buffer does not match dimensions")
    s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ px
  }

  /** Decode binary P6 PPM: magic, whitespace-separated width/height/maxval
    * (with `#`-to-end-of-line comments, per the netpbm spec), one
    * whitespace byte, then `w*h*3` raw sample bytes. Returns
    * (width, height, pixel bytes). Pure JVM — no codec libraries.
    */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a P6 PPM")
    var p = 2
    def skipSeparators(): Unit = {
      var go = true
      while (go && p < bytes.length) {
        val c = bytes(p)
        if (c == '#') while (p < bytes.length && bytes(p) != '\n') p += 1
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') p += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipSeparators()
      val start = p
      while (p < bytes.length && bytes(p) >= '0' && bytes(p) <= '9') p += 1
      require(p > start, s"malformed PPM header at byte $start")
      new String(bytes, start, p - start,
        java.nio.charset.StandardCharsets.US_ASCII).toInt
    }
    val w = readInt(); val h = readInt(); val maxval = readInt()
    require(maxval == 255, s"unsupported maxval $maxval (8-bit only)")
    p += 1 // exactly one whitespace byte after maxval, then raw samples
    require(bytes.length - p == w * h * 3,
      s"PPM body has ${bytes.length - p} bytes, expected ${w * h * 3}")
    (w, h, java.util.Arrays.copyOfRange(bytes, p, bytes.length))
  }

  /** One deterministic P6 fixture image per document — the binary media
    * column the decode operators run on. Generated JVM-side (a map-only
    * typed projection); at 100 TB this table would instead be scanned
    * from object storage, with the identical downstream plan.
    */
  def ppmMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, makePpm(id)))
  }

  // ------------------------------------------------- perceptual hashing

  /** Fixture recipe for the perceptual-hash operators — separate from
    * [[makePpm]] (whose dimensions/recipe are pinned by the decode
    * oracles) for two reasons: the hash fixtures need images LARGE enough
    * that each 8×8 grid cell samples a distinct pixel (w 16–32, h 12–24;
    * the decode fixtures are 4–8×3–6, where one perturbed pixel feeds
    * many grid cells and bit flips clump), and they need PLANTED
    * perceptual twins. Every doc_id ≡ 9 (mod 10) re-renders doc_id−9's
    * image with the red channel of pixels {0, 5, 11} bumped +32 (capped
    * at 255) — visually near-identical; over the shipped corpora
    * (doc_id < 5000) every twin lands within Hamming distance 3 of its
    * source's hash, which [[imageNearDups]]' default radius covers.
    */
  private[graft] def makePhashPpm(docId: Long): Array[Byte] = {
    val planted = docId % 10 == 9
    val e = if (planted) docId - 9 else docId
    val w = (16 + e % 17).toInt; val h = (12 + e % 13).toInt
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val r = ((e * 7 + i * 13) % 256).toInt
      px(3 * i) =
        (if (planted && (i == 0 || i == 5 || i == 11)) math.min(r, 223) + 32
         else r).toByte
      px(3 * i + 1) = ((e * 11 + i * 17) % 256).toByte
      px(3 * i + 2) = ((e * 3 + i * 29) % 256).toByte
      i += 1
    }
    encodePpm(w, h, px)
  }

  /** One hash-fixture image per document (see [[makePhashPpm]]). */
  def phashMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, makePhashPpm(id)))
  }

  /** Perceptual image hash (average hash): decode each PPM, sample an
    * 8×8 luma grid by nearest-neighbor (`sx = gx·w/8`, `sy = gy·h/8`,
    * integer floors — resolution-independent, so a resized copy hashes
    * near-identically), and set bit (gy,gx) iff the cell's luma exceeds
    * the 64-cell integer mean. Returned as 16 lowercase hex chars (byte
    * gy holds row gy, MSB = gx 0). All integer math over real decoded
    * bytes — the oracle recomputes the hash from the fixture recipe, so
    * a decode, sampling, or threshold defect breaks the hash match.
    *
    * Scale: map-only off the scan, blob never shuffles (same contract as
    * [[extractFeatures]]); the output row is fixed-width, so downstream
    * dedup never touches image bytes.
    */
  def imageHashes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    phashMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (w, h, px) = decodePpm(r.media)
        val lum = new Array[Long](64)
        var s = 0L
        var gi = 0
        while (gi < 64) {
          val pi = ((gi / 8) * h / 8 * w + (gi % 8) * w / 8) * 3
          lum(gi) = (299L * (px(pi) & 0xff) + 587L * (px(pi + 1) & 0xff) +
            114L * (px(pi + 2) & 0xff)) / 1000L
          s += lum(gi)
          gi += 1
        }
        val mean = s / 64
        val hex = new StringBuilder(16)
        var gy = 0
        while (gy < 8) {
          var b = 0
          var gx = 0
          while (gx < 8) {
            if (lum(gy * 8 + gx) > mean) b |= 1 << (7 - gx)
            gx += 1
          }
          hex.append(f"$b%02x")
          gy += 1
        }
        ImageHashRow(r.doc_id, w, h, hex.toString)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Near-duplicate image pairs by banded Hamming search over
    * [[imageHashes]] — multi-index hashing (Norouzi et al.): the 64-bit
    * hash splits into 4 bands of 16 bits; by pigeonhole, any pair within
    * Hamming distance `maxHamming` ≤ 3 agrees exactly on at least one
    * band, so candidates come from 4 equi-joins on (band index, band
    * value) and only candidates pay the Hamming check (builtin
    * `conv`/`^`/`bit_count`, codegen'd). Never all-pairs: the corpus
    * shuffles once per band on 16-bit keys. Radii above 3 need more
    * bands than a 64-bit hash can spare at scale (8×8-bit bands collide
    * every n²/256 pairs) — the scale path is a longer hash (e.g.
    * 16×16-grid/256-bit, 8×32-bit bands for radius 7), so radius > 3 is
    * rejected rather than silently degrading.
    */
  def imageNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4 bands of a 64-bit hash " +
        s"(pigeonhole needs bands > radius), got $maxHamming")
    bandedHammingPairs(imageHashes(documents), "phash", 16, maxHamming)
  }

  /** Multi-index banded Hamming pair search shared by the three modality
    * near-dup operators: the `hexLen`-hex fingerprint splits into 4 equal
    * bands; any pair within Hamming ≤ `maxHamming` ≤ 3 agrees exactly on
    * at least one band (pigeonhole), so candidates come from 4 equi-joins
    * on (band index, band value) and only candidates pay the Hamming
    * check (builtin `conv`/`^`/`bit_count`, codegen'd). Never all-pairs;
    * one band-key shuffle per band.
    */
  private def bandedHammingPairs(hashes: DataFrame, fpCol: String,
                                 hexLen: Int, maxHamming: Int): DataFrame = {
    val bw = hexLen / 4 // hex chars per band
    // NOT checkpointed, by measurement (r15): materializing the hash
    // frame here forces the fingerprint functions' presentation sort
    // (their `orderBy(doc_id)`) that the optimizer otherwise eliminates
    // below the band join, and the in-suite bench read the video entry
    // 5.3 s → 10.0 s min-of-2 with a checkpoint. The double fingerprint
    // execution the lazy frame implies is the cheaper side at every
    // measured size; a production deployment that pays real decode costs
    // should persist the fingerprint TABLE (the artifact path), not
    // checkpoint inside the search.
    val h = hashes.select(col("doc_id"), col(fpCol).as("fp"))
    val bands = h.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("bi"))
      .withColumn("bv", expr(s"substring(fp, bi * $bw + 1, $bw)"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct()
    val ham = (0 until 4).map(b =>
      bit_count(expr(s"cast(conv(substring(fa, ${b * bw + 1}, $bw), 16, 10) as long)")
        .bitwiseXOR(expr(s"cast(conv(substring(fb, ${b * bw + 1}, $bw), 16, 10) as long)"))))
      .reduce(_ + _)
    cand.withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Batched REAL feature extraction: decode each PPM and pool per-channel
    * and luminance statistics over the actual pixel bytes — the
    * `mapInPandas`-shaped path (one iterator per partition; blob never
    * shuffles; map-only stage straight off the scan). All statistics are
    * exact integer math (milli-units via `*1000 div n`; per-pixel luma =
    * `(299r+587g+114b) div 1000`), so the oracle's recipe-based
    * recomputation matches bit-for-bit.
    */
  def extractFeatures(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    ppmMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (w, h, px) = decodePpm(r.media)
        val n = w.toLong * h
        var sr = 0L; var sg = 0L; var sb = 0L; var sl = 0L
        var maxL = Long.MinValue; var minL = Long.MaxValue
        var i = 0
        while (i < w * h) {
          val rr = px(3 * i) & 0xff
          val gg = px(3 * i + 1) & 0xff
          val bb = px(3 * i + 2) & 0xff
          val luma = (299L * rr + 587L * gg + 114L * bb) / 1000L
          sr += rr; sg += gg; sb += bb; sl += luma
          if (luma > maxL) maxL = luma
          if (luma < minL) minL = luma
          i += 1
        }
        PpmFeatureRow(r.doc_id, w, h, sr * 1000 / n, sg * 1000 / n,
          sb * 1000 / n, sl * 1000 / n, maxL, minL)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ WAV codec

  /** Audio fixture recipe, shared by the Spark-side generator and the
    * DuckDB oracle's independent recomputation: doc d is a mono 16-bit
    * PCM clip at [[WavRate]] Hz with `n = 64 + d mod 193` samples, sample
    * i = `((d·31 + i·57) mod 4001) − 2000` (a deterministic integer
    * pseudo-wave spanning both signs, so zero-crossing counts are
    * non-trivial). Docs with d ≡ 0 (mod 4) additionally carry a LIST
    * metadata chunk with an odd-length payload before `data`, so the
    * decoder's chunk walk and pad-byte handling are exercised by the
    * fixtures themselves, not just by a spec.
    */
  val WavRate = 8000L
  val WavFrameSamples = 64

  private[graft] def wavSamples(docId: Long): Array[Short] = {
    val n = (64 + docId % 193).toInt
    Array.tabulate(n)(i => (((docId * 31 + i.toLong * 57) % 4001) - 2000).toShort)
  }

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def le16(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Encode real RIFF/WAVE: `RIFF` size `WAVE`, a `fmt ` chunk (PCM,
    * mono, 16-bit, [[WavRate]]), an optional odd-payload `LIST` chunk,
    * then `data` with little-endian samples.
    */
  private[graft] def encodeWav(s: Array[Short],
                               withList: Boolean): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val data = new Array[Byte](s.length * 2)
    var i = 0
    while (i < s.length) {
      data(2 * i) = (s(i) & 0xff).toByte
      data(2 * i + 1) = ((s(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = "fmt ".getBytes(ascii) ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(WavRate) ++ le32(WavRate * 2) ++ le16(2) ++ le16(16)
    val list =
      if (withList)
        "LIST".getBytes(ascii) ++ le32(7) ++
          "grft000".getBytes(ascii) ++ Array(0.toByte) // odd size → pad
      else Array.emptyByteArray
    val dataChunk = "data".getBytes(ascii) ++ le32(data.length) ++ data
    val body = "WAVE".getBytes(ascii) ++ fmt ++ list ++ dataChunk
    "RIFF".getBytes(ascii) ++ le32(body.length) ++ body
  }

  private[graft] def makeWav(docId: Long): Array[Byte] =
    encodeWav(wavSamples(docId), withList = docId % 4 == 0)

  private def rdLe32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  private def rdLe16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  /** Decode RIFF/WAVE PCM: verify the RIFF magic and declared size, walk
    * chunks (unknown chunk ids are skipped over `size + size mod 2`
    * bytes — the RIFF odd-size pad rule), require a PCM/mono/16-bit
    * `fmt ` chunk, and return (sampleRate, decoded samples) from `data`.
    * Pure JVM — no codec libraries.
    */
  def decodeWav(bytes: Array[Byte]): (Long, Array[Short]) = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def tag(p: Int): String = new String(bytes, p, 4, ascii)
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE file")
    require(rdLe32(bytes, 4) == bytes.length - 8,
      s"RIFF size ${rdLe32(bytes, 4)} != payload ${bytes.length - 8}")
    var p = 12
    var rate = -1L
    var samples: Array[Short] = null
    while (p + 8 <= bytes.length) {
      val id = tag(p); val size = rdLe32(bytes, p + 4).toInt
      require(p + 8 + size <= bytes.length,
        s"chunk '$id' overruns the file ($size bytes at offset $p)")
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too short ($size)")
          require(rdLe16(bytes, p + 8) == 1, "not PCM (fmt audioFormat != 1)")
          require(rdLe16(bytes, p + 10) == 1, "not mono")
          require(rdLe16(bytes, p + 22) == 16, "not 16-bit")
          rate = rdLe32(bytes, p + 12)
        case "data" =>
          require(size % 2 == 0, s"odd PCM data size $size")
          samples = Array.tabulate(size / 2)(i =>
            rdLe16(bytes, p + 8 + 2 * i).toShort)
        case _ => // unknown chunk: skip
      }
      p += 8 + size + (size & 1)
    }
    require(rate > 0, "missing fmt chunk")
    require(samples != null, "missing data chunk")
    (rate, samples)
  }

  /** One deterministic WAV fixture clip per document (see [[wavSamples]]).
    * Map-only typed projection, same contract as [[ppmMediaTable]].
    */
  def wavMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, makeWav(id)))
  }

  /** REAL audio feature extraction: decode each WAV and compute exact
    * integer statistics over the PCM samples — peak = max |s|,
    * mean_square = Σs²/n (integer energy; RMS without the oracle-hostile
    * sqrt), zero_crossings = #{i : sign(s_{i−1}) ≠ sign(s_i)} with
    * sign(x) = (x ≥ 0), duration in integer ms. Decode and pooling run in
    * one map-only partition iterator; the blob never shuffles (the same
    * scale contract as [[extractFeatures]]).
    */
  def audioFeatures(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wavMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (rate, s) = decodeWav(r.media)
        val n = s.length.toLong
        var peak = 0L; var sq = 0L; var zc = 0L
        var i = 0
        while (i < s.length) {
          val v = s(i).toLong
          if (math.abs(v) > peak) peak = math.abs(v)
          sq += v * v
          if (i > 0 && (s(i - 1) >= 0) != (v >= 0)) zc += 1
          i += 1
        }
        WavFeatureRow(r.doc_id, rate, n, n * 1000 / rate, peak, sq / n, zc)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Frame-level audio analysis: cut each decoded clip into fixed
    * [[WavFrameSamples]]-sample analysis frames (last frame ragged) and
    * report each frame's integer energy Σs²/len — the audio analogue of
    * [[sampleFrames]], except over REAL decoded samples rather than raw
    * byte windows. Still map-only: frames are emitted by the decoding
    * iterator itself, so the expansion never materializes the blob twice.
    */
  def audioFrames(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wavMediaTable(documents).mapPartitions { it =>
      it.flatMap { r =>
        val (_, s) = decodeWav(r.media)
        (0 until (s.length + WavFrameSamples - 1) / WavFrameSamples).map { f =>
          val lo = f * WavFrameSamples
          val hi = math.min(lo + WavFrameSamples, s.length)
          var sq = 0L
          var i = lo
          while (i < hi) { sq += s(i).toLong * s(i); i += 1 }
          WavFrameRow(r.doc_id, f.toLong, (hi - lo).toLong, sq / (hi - lo))
        }
      }
    }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  // ------------------------------------------- audio fingerprint / near-dup

  /** Fingerprint fixture recipe — separate from [[wavSamples]] (whose
    * short clips leave too few analysis frames for a 32-bit contour) and
    * carrying PLANTED acoustic twins: doc d ≡ 7 (mod 10) replays doc
    * d−7's clip through a uniform −3% gain (`s·31/32` with JVM
    * truncate-toward-zero division — measured to be exactly DuckDB's
    * `//` semantics on negatives, so the oracle replays the gain
    * bit-for-bit). Clip length `n = 544 + e mod 225` (34–48 analysis frames
    * of [[FpFrameSamples]] samples). A uniform gain rescales every frame
    * energy by the same factor, so the energy CONTOUR (which frame is
    * louder than the last) is preserved up to integer-truncation ties —
    * the twins land within small Hamming distance of their source.
    */
  val FpFrameSamples = 16

  private[graft] def fpSamples(docId: Long): Array[Short] = {
    val planted = docId % 10 == 7
    val e = if (planted) docId - 7 else docId
    val n = (544 + e % 225).toInt
    Array.tabulate(n) { i =>
      // quadratic in i with a doc-dependent coefficient: the linear
      // feature-fixture ramp (wavSamples) produces near-identical energy
      // contours across docs (measured: 14k of 125k pairs within radius
      // 3); this recipe decorrelates them (48 incidental pairs, every
      // planted twin within Hamming 1)
      val b = ((e * 31 + 7) * (i + 1L) * (i + 2L) % 4001) - 2000
      (if (planted) b * 31 / 32 else b).toShort
    }
  }

  /** One fingerprint-fixture clip per document (see [[fpSamples]]). */
  def fpMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, encodeWav(fpSamples(id), withList = false)))
  }

  /** Acoustic fingerprint (energy contour): decode each WAV, cut the
    * first `⌊n/16⌋` complete 16-sample frames, and set bit f (MSB first)
    * iff frame f+1 is strictly louder (Σs² energy) than frame f, over
    * the first 32 deltas — the Haitsma–Kalker-style sign-of-band-energy-
    * difference hash reduced to one time-domain band. Gain-invariant by
    * construction (uniform gain preserves energy ordering), integer-only,
    * and 8 hex chars per clip. Map-only off the scan; the blob never
    * shuffles, and downstream dedup joins touch only the 32-bit hash.
    */
  /** Decode one WAV and reduce it to `(n_frames, contour)` — the first
    * `bits` energy deltas as sign bits, MSB first. Shared by the 32- and
    * 64-bit fingerprint extractors so the contour rule has one spelling.
    */
  private def contourOf(media: Array[Byte], bits: Int): (Int, Long) = {
    val (_, s) = decodeWav(media)
    val nf = s.length / FpFrameSamples
    val en = new Array[Long](nf)
    var f = 0
    while (f < nf) {
      var sq = 0L
      var i = f * FpFrameSamples
      val hi = i + FpFrameSamples
      while (i < hi) { sq += s(i).toLong * s(i); i += 1 }
      en(f) = sq
      f += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits && b + 1 < nf) {
      if (en(b + 1) > en(b)) fp |= 1L << (bits - 1 - b)
      b += 1
    }
    (nf, fp)
  }

  def audioFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    fpMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (nf, fp) = contourOf(r.media, 32)
        AudioFpRow(r.doc_id, nf.toLong, f"$fp%08x")
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** 64-bit fingerprint fixture recipe — the scale-path twin of
    * [[fpSamples]]: clips of `1056 + e mod 225` samples (66–80 analysis
    * frames, ≥ 65 deltas, so the 64-delta contour is always complete),
    * same quadratic sample rule and the same planted −3%-gain twins at
    * doc d ≡ 7 (mod 10).
    */
  private[graft] def fpSamples64(docId: Long): Array[Short] = {
    val planted = docId % 10 == 7
    val e = if (planted) docId - 7 else docId
    val n = (1056 + e % 225).toInt
    Array.tabulate(n) { i =>
      val b = ((e * 31 + 7) * (i + 1L) * (i + 2L) % 4001) - 2000
      (if (planted) b * 31 / 32 else b).toShort
    }
  }

  /** One 64-bit-fingerprint-fixture clip per document (see
    * [[fpSamples64]]).
    */
  def fp64MediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, encodeWav(fpSamples64(id), withList = false)))
  }

  /** The 64-bit acoustic fingerprint — [[audioFingerprints]]'s contour
    * rule over the first 64 deltas, as 16 hex chars. This is the scale
    * path the 32-bit operator's scaladoc names: 16-BIT bands give 65 536
    * buckets, so banded candidates grow as n²/2¹⁶ instead of n²/2⁸ —
    * the image path's constants, which [[imageNearDups]] already sustains
    * at 500k docs (the `DevScale` scale main measures this path there too).
    */
  def audioFingerprints64(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    fp64MediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (nf, fp) = contourOf(r.media, 64)
        AudioFpRow(r.doc_id, nf.toLong, f"$fp%016x")
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Near-duplicate audio pairs by banded Hamming search over
    * [[audioFingerprints]] — the same multi-index shape as
    * [[imageNearDups]]: the 32-bit fingerprint splits into 4 bands of
    * 8 bits; any pair within Hamming distance ≤ 3 agrees exactly on at
    * least one band (pigeonhole), so candidates come from 4 equi-joins
    * on (band index, band value) and only candidates pay the Hamming
    * check. Never all-pairs; one 8-bit-key shuffle per band. Radius > 3
    * would need more bands than a 32-bit hash can spare — rejected, the
    * scale path is a longer contour hash.
    *
    * Corpus-size note: 8-bit band keys give 256 buckets, so band
    * candidates grow as n²/256 — fine at the 10³–10⁴ clips the shipped
    * fixtures model, quadratic-dominated around 10⁵. Production-scale
    * audio dedup wants a 64-bit contour (≥ 66 frames per clip) with
    * 16-bit bands, i.e. the image path's constants; the fixture clips
    * (34–48 frames) cannot produce one, so this operator ships the
    * 32-bit form and `DevScale` measures only the extraction at 500k.
    */
  def audioNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4 bands of a 32-bit fingerprint " +
        s"(pigeonhole needs bands > radius), got $maxHamming")
    bandedHammingPairs(audioFingerprints(documents), "afp", 8, maxHamming)
  }

  /** Near-duplicate audio pairs over the 64-bit contour
    * ([[audioFingerprints64]]) — 4 bands of 16 bits, the production
    * constants: band buckets number 65 536, so candidate volume stays
    * collision-rate-proportional well past the 32-bit form's ~10⁴-clip
    * ceiling (`DevScale` prices the search at 500k clips alongside the
    * image path it mirrors).
    */
  def audioNearDups64(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4 bands (pigeonhole), got $maxHamming")
    bandedHammingPairs(audioFingerprints64(documents), "afp", 16, maxHamming)
  }

  /** Incremental perceptual admission — the daily-run form of the banded
    * near-dup searches, generic over the fingerprint modality: works for
    * any `(doc_id, <fpCol> hex)` table (the 16-hex image aHash, the
    * 8-hex audio contour). A batch doc is REFUSED iff some fingerprint
    * within Hamming `maxHamming` exists on a smaller doc_id (the index
    * side is a persisted artifact table from a previous run — raw media
    * is never re-read or re-decoded; with monotone ingest ids the index
    * is exactly the smaller-id side, so admission equals the whole-corpus
    * smaller-id-neighbor rule restricted to the batch — the invariant the
    * oracle checks). The rule is DIRECT-neighbor (not component-closure)
    * on purpose: it makes admission independent of other batch verdicts,
    * so the operator is order-free, idempotent on replay, and O(batch)
    * — candidates come from the same 4-band equi-joins as the full
    * search, with only the batch side exploding per band against the
    * fingerprint artifact.
    */
  def fingerprintAdmission(indexFps: DataFrame, batchFps: DataFrame,
                           fpCol: String, hexLen: Int,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4 bands (pigeonhole), got $maxHamming")
    require(hexLen % 4 == 0 && hexLen > 0, s"hexLen must be 4|8|12|16, got $hexLen")
    val bw = hexLen / 4 // hex chars per band
    val bat = batchFps.select(col("doc_id"), col(fpCol).as("fp"))
    val all = indexFps.select(col("doc_id").as("o_id"), col(fpCol).as("o_fp"))
      .unionByName(bat.select(col("doc_id").as("o_id"), col("fp").as("o_fp")))
    def bandsOf(df: DataFrame, f: String) = df
      .withColumn("bi", explode(sequence(lit(0), lit(3))))
      .withColumn("bv", expr(s"substring($f, bi * $bw + 1, $bw)"))
    val cand = bandsOf(all, "o_fp")
      .join(bandsOf(bat, "fp"), Seq("bi", "bv"))
      .filter(col("o_id") < col("doc_id"))
      .select(col("doc_id"), col("fp"), col("o_id"), col("o_fp"))
      .distinct()
    val ham = (0 until 4).map(b =>
      bit_count(expr(s"cast(conv(substring(fp, ${b * bw + 1}, $bw), 16, 10) as long)")
        .bitwiseXOR(expr(s"cast(conv(substring(o_fp, ${b * bw + 1}, $bw), 16, 10) as long)"))))
      .reduce(_ + _)
    val matches = cand.filter(ham <= maxHamming)
      .groupBy(col("doc_id")).agg(min(col("o_id")).as("canon"))
    bat.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canon"), col("doc_id")).as("canonical_id"),
        col("canon").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Cross-modal curation gate — the composed form a multimodal training
    * corpus runs before packing: one row per document with a duplicate
    * flag per modality (exact text via md5 keep-first; image, audio, and
    * video via the whole-corpus smaller-id fingerprint-neighbor rule —
    * [[fingerprintAdmission]] with an empty index IS that rule) and the
    * conjunction `kept`. Each flag derives from fixed-width keys
    * (16 bytes md5 / 8–16 hex fingerprint); the media itself is decoded
    * once per modality, map-only, and never joins. The four flag frames
    * meet on `doc_id` equi-joins — at 100 TB those are the only
    * shuffles, all on one long key per doc.
    */
  def cleanMultimodalCorpus(documents: DataFrame): DataFrame = {
    val empty = documents.limit(0)
    val textDup = documents.select(col("doc_id"),
      (org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))) > 1)
        .as("text_dup"))
    val imageDup = fingerprintAdmission(imageHashes(empty),
        imageHashes(documents), "phash", 16)
      .select(col("doc_id"), (!col("kept")).as("image_dup"))
    val audioDup = fingerprintAdmission(audioFingerprints(empty),
        audioFingerprints(documents), "afp", 8)
      .select(col("doc_id"), (!col("kept")).as("audio_dup"))
    val videoDup = fingerprintAdmission(videoFingerprints(empty),
        videoFingerprints(documents), "vfp", 8)
      .select(col("doc_id"), (!col("kept")).as("video_dup"))
    textDup.join(imageDup, "doc_id").join(audioDup, "doc_id")
      .join(videoDup, "doc_id")
      .select(col("doc_id"), col("text_dup"), col("image_dup"),
        col("audio_dup"), col("video_dup"),
        (!(col("text_dup") || col("image_dup") || col("audio_dup") ||
           col("video_dup"))).as("kept"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ Y4M codec

  /** Video fixture recipe, shared with the DuckDB oracle: doc d is a
    * YUV4MPEG2 (`Cmono` — luma plane only) clip, `w = 8 + d mod 9`,
    * `h = 6 + d mod 7`, `nf = 4 + d mod 5` frames. Docs with
    * d ≢ 0 (mod 3) contain a hard SCENE CUT at frame `sc = nf div 2`:
    * frames before the cut render luma `(13d + 7i) mod 200 + 2f` (a
    * slow +2/frame drift), frames at/after it switch to the unrelated
    * pattern `(17d + 11i) mod 200 + 2(f − sc)`. Docs with d ≡ 0 (mod 3)
    * are single-scene. Within a scene the per-pixel frame delta is
    * exactly 2 (mean-abs-diff 2n ≪ the [[VideoCutThreshold]]·n cut
    * bar); across the cut the two mod-200 patterns differ by ~50n —
    * detection has a wide deterministic margin on every doc. Docs with
    * d ≡ 0 (mod 5) carry a private `Xgrft` header tag, which the
    * decoder must ignore per the Y4M spec.
    */
  val VideoCutThreshold = 10L

  private[graft] def videoDims(docId: Long): (Int, Int, Int, Int) = {
    val nf = (4 + docId % 5).toInt
    ((8 + docId % 9).toInt, (6 + docId % 7).toInt, nf,
      if (docId % 3 == 0) -1 else nf / 2)
  }

  private[graft] def videoLuma(docId: Long, sc: Int, f: Int, i: Int): Int =
    (if (sc >= 0 && f >= sc) (docId * 17 + i * 11) % 200 + 2L * (f - sc)
     else (docId * 13 + i * 7) % 200 + 2L * f).toInt

  private[graft] def makeY4m(docId: Long): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val (w, h, nf, sc) = videoDims(docId)
    val xtag = if (docId % 5 == 0) " Xgrft" else ""
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono$xtag\n".getBytes(ascii))
    var f = 0
    while (f < nf) {
      out.write("FRAME\n".getBytes(ascii))
      var i = 0
      while (i < w * h) {
        out.write(videoLuma(docId, sc, f, i))
        i += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Decode YUV4MPEG2: the tagged stream header (`W`/`H` parsed, `C`
    * required mono, other and private `X` tags skipped per spec), then
    * repeated `FRAME` markers — each with optional frame-level params up
    * to the newline — followed by `w·h` raw luma bytes. Returns
    * (width, height, frames). Pure JVM — no codec libraries.
    */
  def decodeY4m(bytes: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    var nl = 0
    while (nl < bytes.length && bytes(nl) != '\n') nl += 1
    require(nl < bytes.length, "no stream-header newline")
    val header = new String(bytes, 0, nl, ascii).split(" ")
    require(header.head == "YUV4MPEG2", "not a YUV4MPEG2 stream")
    var w = -1; var h = -1; var mono = false
    header.tail.foreach { t =>
      if (t.startsWith("W")) w = t.drop(1).toInt
      else if (t.startsWith("H")) h = t.drop(1).toInt
      else if (t.startsWith("C")) mono = t.drop(1).startsWith("mono")
      // F/I/A and private X tags: ignored
    }
    require(w > 0 && h > 0, s"missing or bad W/H in header ($w x $h)")
    require(mono, "only Cmono (luma-plane) streams supported")
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var p = nl + 1
    while (p < bytes.length) {
      require(p + 5 <= bytes.length &&
        new String(bytes, p, 5, ascii) == "FRAME", s"bad FRAME marker at $p")
      p += 5
      while (p < bytes.length && bytes(p) != '\n') p += 1 // frame params
      require(p < bytes.length, "no frame-header newline")
      p += 1
      require(p + w * h <= bytes.length,
        s"truncated frame: ${bytes.length - p} of ${w * h} luma bytes")
      frames += java.util.Arrays.copyOfRange(bytes, p, p + w * h)
      p += w * h
    }
    (w, h, frames.toArray)
  }

  /** One deterministic Y4M fixture clip per document. */
  def y4mMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, makeY4m(id)))
  }

  /** REAL per-frame video statistics: decode each Y4M clip and emit, per
    * frame, the integer mean luma (milli-units) and the sum of absolute
    * per-pixel differences to the previous frame — the standard
    * pixel-domain scene-cut detector: a frame is a cut iff its
    * mean-abs-diff exceeds [[VideoCutThreshold]] (integer form:
    * `sad > threshold · n`). Decode + temporal diff run inside one
    * map-only partition iterator — the clip's frames never leave the
    * task, so there is NO shuffle of pixel data (contrast with a naive
    * frame-explode + self-join on frame_idx−1, which would shuffle every
    * frame twice).
    */
  def videoFrameStats(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    videoFrameRows(documents).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private def videoFrameRows(documents: DataFrame): Dataset[VideoFrameRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    y4mMediaTable(documents).mapPartitions { it =>
      it.flatMap { r =>
        val (w, h, frames) = decodeY4m(r.media)
        val n = (w * h).toLong
        frames.iterator.zipWithIndex.map { case (fr, f) =>
          var sum = 0L; var sad = 0L
          var i = 0
          while (i < fr.length) {
            sum += fr(i) & 0xff
            if (f > 0) sad += math.abs((fr(i) & 0xff) -
              (frames(f - 1)(i) & 0xff))
            i += 1
          }
          VideoFrameRow(r.doc_id, f.toLong, sum * 1000 / n, sad,
            f > 0 && sad > VideoCutThreshold * n)
        }
      }
    }
  }

  /** Scene decomposition per clip: count detected cuts and emit the
    * keyframe list (frame 0 plus every cut frame, comma-joined) — the
    * scene-aware frame-sampling primitive a multimodal training pipeline
    * uses to pick one representative frame per scene instead of a fixed
    * stride. Derived from the same single decode pass as
    * [[videoFrameStats]]; output is one fixed-width row per clip.
    */
  def videoScenes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    y4mMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (w, h, frames) = decodeY4m(r.media)
        val n = (w * h).toLong
        val cuts = (1 until frames.length).filter { f =>
          var sad = 0L
          var i = 0
          while (i < n) {
            sad += math.abs((frames(f)(i) & 0xff) - (frames(f - 1)(i) & 0xff))
            i += 1
          }
          sad > VideoCutThreshold * n
        }
        VideoSceneRow(r.doc_id, w.toLong, h.toLong, frames.length.toLong,
          cuts.length.toLong, (0 +: cuts).mkString(","))
      }
    }.toDF().orderBy(col("doc_id"))
  }

  // ------------------------------------------- video fingerprint / near-dup

  /** Video-fingerprint fixture recipe — separate from [[videoDims]] (whose
    * 4–8-frame scene clips are too short for a 32-bit temporal contour)
    * and carrying PLANTED perceptual twins: doc d ≡ 8 (mod 10) replays
    * doc d−8's clip through a uniform +5 luma brightness shift — a
    * different binary (every pixel byte differs, md5 differs) with the
    * identical per-frame brightness ORDERING, which is exactly what the
    * contour hash is invariant to. Clip length `nf = 34 + e mod 15`
    * frames (≥ 34, so the 32-delta contour is always complete), luma of
    * pixel i in frame f = `((e·31+7)(f+1)(f+2) + 13i) mod 200` (+5 when
    * planted; ≤ 204, no byte clamp) — the same doc-decorrelating
    * quadratic the audio fingerprint fixtures use.
    */
  private[graft] def vfpDims(docId: Long): (Int, Int, Int) = {
    val e = if (docId % 10 == 8) docId - 8 else docId
    ((6 + e % 5).toInt, (4 + e % 5).toInt, (34 + e % 15).toInt)
  }

  private[graft] def vfpLuma(docId: Long, f: Int, i: Int): Int = {
    val planted = docId % 10 == 8
    val e = if (planted) docId - 8 else docId
    (((e * 31 + 7) * (f + 1L) * (f + 2L) + 13L * i) % 200 +
      (if (planted) 5 else 0)).toInt
  }

  private[graft] def makeVfpY4m(docId: Long): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val (w, h, nf) = vfpDims(docId)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes(ascii))
    var f = 0
    while (f < nf) {
      out.write("FRAME\n".getBytes(ascii))
      var i = 0
      while (i < w * h) {
        out.write(vfpLuma(docId, f, i))
        i += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** One fingerprint-fixture clip per document (see [[vfpDims]]). */
  def vfpMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, makeVfpY4m(id)))
  }

  /** Temporal video fingerprint (luma contour): decode each Y4M clip,
    * sum the luma plane per frame, and set bit f (MSB first) iff frame
    * f+1 is strictly brighter (Σ luma) than frame f, over the first 32
    * deltas — the video analogue of the [[audioFingerprints]] energy
    * contour, and the temporal member of the TIRI/ordinal-signature
    * family of video hashes. Brightness-shift-invariant by construction
    * (a uniform luma offset adds the same constant to every frame sum,
    * preserving strict ordering); integer-only; 8 hex chars per clip.
    * Map-only off the scan — frames never leave the decoding task, and
    * downstream dedup joins touch only the 32-bit hash.
    */
  def videoFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    vfpMediaTable(documents).mapPartitions { it =>
      it.map { r =>
        val (_, _, frames) = decodeY4m(r.media)
        val s = frames.map { fr =>
          var sum = 0L
          var i = 0
          while (i < fr.length) { sum += fr(i) & 0xff; i += 1 }
          sum
        }
        var fp = 0L
        var b = 0
        while (b < 32 && b + 1 < s.length) {
          if (s(b + 1) > s(b)) fp |= 1L << (31 - b)
          b += 1
        }
        VideoFpRow(r.doc_id, frames.length.toLong, f"$fp%08x")
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Near-duplicate video pairs by banded Hamming search over
    * [[videoFingerprints]] — the same multi-index shape as the image and
    * audio paths: 4 bands of 8 bits, pigeonhole-complete at radius ≤ 3,
    * candidates from band equi-joins only. Same corpus-size note as
    * [[audioNearDups]]: 8-bit band keys are the 10³–10⁴-clip form; the
    * production scale path is a longer contour (≥ 66 frames → 64 bits,
    * 16-bit bands).
    */
  def videoNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4 bands of a 32-bit fingerprint " +
        s"(pigeonhole needs bands > radius), got $maxHamming")
    bandedHammingPairs(videoFingerprints(documents), "vfp", 8, maxHamming)
  }
}
