package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (BASELINE.json north-star surface):
  * image/audio/video as opaque BinaryType columns with typed metadata.
  *
  * Every kind decodes a REAL container format with byte arithmetic —
  * image = P5 PGM, audio = RIFF/WAVE (8-bit mono PCM), video =
  * YUV4MPEG2 Cmono — built by the matching `to*` wrapper and parsed
  * back by the matching `decode*` walk; no compressed-codec library
  * exists in this container, so the formats are the uncompressed
  * members of each family (a production swap to libjpeg/ffmpeg
  * replaces only the per-partition kernel bodies, no plan change).
  *
  * Scale notes: binary payloads ride in their own Parquet column, so
  * metadata-only queries never read bytes (column pruning); decode runs
  * via mapPartitions (one codec init per partition, the Scala analog of
  * a batched pandas-UDF), map-only — no shuffle.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** width/height are DECODED from the payload bytes — the PGM header
    * for image rows, the Y4M stream header for video rows; 0 for audio.
    */
  case class MediaFeatures(media_id: Long, kind: String, width: Int,
                           height: Int, n_bytes: Long,
                           checksum: String, mean_byte: Double,
                           n_frames: Int, feature: Array[Float])

  /** Synthesize a media table from the documents table: payload =
    * UTF-8 bytes of the text (deterministic fake), metadata derived
    * from doc fields. Stands in for a real image/audio ingest.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
      (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"),
      when(pmod(col("doc_id"), lit(3)) === 1, 16000).otherwise(44100)
        .cast("int").as("sample_rate"))

  /** 12-byte container header for the m1 metadata gate: magic "GRFT"
    * ‖ width:u16be ‖
    * height:u16be ‖ sample_rate:u32be, prepended to the payload. Built
    * from codegen'd Column ops only (hex→lpad→unhex produces the
    * big-endian byte string; concat on BinaryType concatenates bytes),
    * so at 100 TB the header attach is a map-only projection.
    */
  def withHeader(media: DataFrame): DataFrame = {
    def beBytes(c: Column, hexWidth: Int): Column =
      unhex(lpad(hex(c), hexWidth, "0"))
    media.withColumn("bytes",
      concat(
        encode(lit("GRFT"), "UTF-8"),
        beBytes(col("width"), 4),
        beBytes(col("height"), 4),
        beBytes(col("sample_rate"), 8),
        col("bytes")))
  }

  /** REAL header decode: parses magic/width/height/sample_rate back out
    * of the first 12 bytes of the `bytes` column — an actual binary
    * parse (substring on BinaryType slices bytes; hex→conv reads the
    * big-endian words), not metadata-column arithmetic. Everything is
    * codegen'd builtin Columns; a malformed blob (wrong magic) surfaces
    * as a non-"GRFT" magic rather than silently garbled fields, which
    * is the failure mode a real ingest wants visible. `n_bytes` is the
    * payload length with the 12-byte header excluded.
    */
  def decodeHeader(media: DataFrame): DataFrame = {
    def beInt(pos: Int, len: Int): Column =
      conv(hex(substring(col("bytes"), pos, len)), 16, 10).cast("int")
    media.select(
      col("media_id"), col("kind"),
      decode(substring(col("bytes"), 1, 4), "UTF-8").as("magic"),
      beInt(5, 2).as("width"),
      beInt(7, 2).as("height"),
      beInt(9, 4).as("sample_rate"),
      (length(col("bytes")) - 12).cast("int").as("n_bytes"))
  }

  // (round-10 close: the decode STUB is gone. Every kind now has a
  //  real container build + real byte-level parse: image = P5 PGM
  //  ([[toPgm]]/[[decodePgm]]), audio = RIFF/WAVE
  //  ([[toWav]]/[[decodeWav]]), video = YUV4MPEG2 Cmono
  //  ([[toY4m]]/[[decodeY4m]]). A production swap to libjpeg/ffmpeg
  //  replaces only the per-partition kernel bodies — the plan shape,
  //  schema, and batching contract are exactly what ships here.)

  /** Re-encode image rows as REAL binary images: P5 (raw-pixel) PGM —
    * `"P5\n" width " " height "\n255\n"` ASCII header followed by
    * width×height raw grayscale bytes. Pixels are the payload's first
    * 16·(len div 16) bytes laid out as a 16-wide raster (the tail that
    * doesn't fill a row is dropped; payloads under one row give a
    * 16×0 image). Fixed 5-digit header fields are valid PGM — any
    * standard viewer opens these blobs. All codegen'd Column ops:
    * map-only at 100 TB, and the non-image kinds pass through
    * untouched.
    */
  def toPgm(media: DataFrame): DataFrame = {
    val h = expr("length(bytes) div 16").cast("int")
    media
      .withColumn("bytes",
        when(col("kind") === "image",
          concat(
            encode(concat(lit("P5\n"),
              lpad(lit("16"), 5, "0"), lit(" "),
              lpad(h.cast("string"), 5, "0"), lit("\n255\n")), "UTF-8"),
            expr("substring(bytes, 1, 16 * (length(bytes) div 16))")))
          .otherwise(col("bytes")))
      .withColumn("width", when(col("kind") === "image", 16).otherwise(0))
      .withColumn("height", when(col("kind") === "image", h).otherwise(0))
  }

  /** REAL image decode: a whitespace-tolerant P5 PGM parser over the
    * raw payload bytes — magic check, three ASCII integers (width,
    * height, maxval), the single post-maxval whitespace byte, then
    * per-PIXEL byte arithmetic (sum/min/max + an 8-bucket intensity
    * histogram as the feature vector). Nothing is read from the row's
    * metadata columns — width/height in the output are what the BYTES
    * say, and every malformed case (bad magic, truncated raster,
    * non-255 maxval) fails loudly rather than yielding garbage.
    * The features for image rows are computed from actually-decoded
    * pixel values.
    */
  def decodePgm(row: MediaRow): MediaFeatures = {
    val r = pgmRaster(row)
    val (b, i, n) = (row.bytes, r.offset, r.n)
    var sum = 0L
    var mn = 255; var mx = 0
    val hist = new Array[Float](8)
    var j = 0
    while (j < n) {
      val v = b(i + j) & 0xff
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      hist(v >> 5) += 1f
      j += 1
    }
    val mean = if (n > 0) sum.toDouble / n else 0.0
    val checksum = b.slice(i, i + math.min(8, n))
      .map("%02x".format(_)).mkString
    MediaFeatures(row.media_id, row.kind, r.width, r.height, n.toLong,
      checksum, mean, 1, hist)
  }

  /** A P5 raster located in its payload: pixels are bytes
    * [offset, offset + n) of the row's blob, n = width·height.
    */
  private case class PgmRaster(width: Int, height: Int, offset: Int, n: Int)

  /** The P5 PGM header walk both image decoders share: the "P5" magic,
    * three whitespace-separated ASCII integers (width, height, maxval),
    * maxval 255 only, exactly ONE whitespace byte before the raster
    * (PGM spec), and a raster the payload really holds. Every
    * malformed case fails loudly rather than yielding garbage.
    */
  private def pgmRaster(row: MediaRow): PgmRaster = {
    val b = row.bytes
    require(b.length >= 2 && b(0) == 'P'.toByte && b(1) == '5'.toByte,
      s"media ${row.media_id}: not a P5 PGM (magic ${b.take(2).mkString(",")})")
    var i = 2
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    def readInt(): Int = {
      while (i < b.length && isWs(b(i))) i += 1
      require(i < b.length && b(i) >= '0' && b(i) <= '9',
        s"media ${row.media_id}: malformed PGM header at byte $i")
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxval = readInt()
    require(maxval == 255, s"media ${row.media_id}: unsupported maxval $maxval")
    require(i < b.length && isWs(b(i)),
      s"media ${row.media_id}: missing raster separator")
    i += 1
    // Long arithmetic: adversarial header values (w·h > 2³¹) overflow
    // an Int to a NEGATIVE n that passes a `length - i >= n` check and
    // silently decodes zero pixels — and the average hash feeds dedup
    // decisions (ADVICE r10). After the bound check n fits an Int.
    val nL = w.toLong * h.toLong
    require(nL >= 0 && nL <= (b.length - i).toLong,
      s"media ${row.media_id}: raster truncated (${b.length - i} of $nL bytes)")
    PgmRaster(w, h, i, nL.toInt)
  }

  /** Re-encode audio rows as REAL audio files: canonical RIFF/WAVE
    * containers (8-bit unsigned mono PCM) — "RIFF" ‖ u32le size ‖
    * "WAVE" ‖ "fmt " chunk (PCM, 1 channel, the row's sample_rate,
    * 8 bits) ‖ "data" chunk holding the payload bytes as samples.
    * Every little-endian word is built from codegen'd Column byte ops
    * (hex → lpad → per-byte reorder → unhex), so the attach is a
    * map-only projection; any standard audio tool opens these blobs.
    * Non-audio kinds pass through untouched.
    */
  def toWav(media: DataFrame): DataFrame = {
    def le(c: Column, nBytes: Int): Column = {
      val hx = lpad(hex(c), nBytes * 2, "0")
      unhex(concat((0 until nBytes).map(i =>
        substring(hx, (nBytes - 1 - i) * 2 + 1, 2)): _*))
    }
    val n = length(col("bytes"))
    media.withColumn("bytes",
      when(col("kind") === "audio",
        concat(
          encode(lit("RIFF"), "UTF-8"), le(n + 36, 4),
          encode(lit("WAVE"), "UTF-8"),
          encode(lit("fmt "), "UTF-8"), le(lit(16), 4),
          le(lit(1), 2),                   // PCM
          le(lit(1), 2),                   // mono
          le(col("sample_rate"), 4),
          le(col("sample_rate"), 4),       // byte rate = rate·1·1
          le(lit(1), 2),                   // block align
          le(lit(8), 2),                   // bits per sample
          encode(lit("data"), "UTF-8"), le(n, 4),
          col("bytes")))
        .otherwise(col("bytes")))
  }

  case class WavFeatures(media_id: Long, sample_rate: Int, n_samples: Long,
                         amp_min: Int, amp_max: Int, amp_sum: Long,
                         crossings: Long)

  /** REAL audio decode: a chunk-walking RIFF/WAVE parser over the raw
    * payload bytes — validates the RIFF/WAVE magics, walks chunks to
    * find "fmt " (requiring PCM / mono / 8-bit; the sample RATE in the
    * output comes from the fmt chunk, not from metadata columns) and
    * "data", then computes per-SAMPLE statistics from the decoded
    * 8-bit PCM: min/max/Σ amplitude and the 100-level crossing count
    * (the zero-crossing analog for unsigned samples) — all integers,
    * so the DuckDB oracle replays them exactly. Malformed containers
    * (bad magic, missing chunks, truncated data, non-PCM format) fail
    * loudly.
    */
  def decodeWav(row: MediaRow): WavFeatures = wavWalk(row)._1

  /** The chunk walk shared by [[decodeWav]] (m6's integer sample
    * stats) and [[decodeWavAsMedia]] (m2's unified feature frame):
    * returns the WavFeatures plus the 8-bucket amplitude histogram and
    * the hex checksum of the first (≤8) sample bytes.
    */
  private def wavWalk(row: MediaRow): (WavFeatures, Array[Float], String) = {
    val b = row.bytes
    def u16(p: Int): Int =
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    def tag(p: Int): String = new String(b, p, 4, "US-ASCII")
    require(b.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"media ${row.media_id}: not a RIFF/WAVE container")
    var pos = 12
    var rate = -1
    var dataAt = -1
    var dataLen = -1L
    while (pos + 8 <= b.length && (rate < 0 || dataAt < 0)) {
      val id = tag(pos); val size = u32(pos + 4)
      id match {
        case "fmt " =>
          require(size >= 16, s"media ${row.media_id}: short fmt chunk")
          require(u16(pos + 8) == 1, s"media ${row.media_id}: not PCM")
          require(u16(pos + 10) == 1, s"media ${row.media_id}: not mono")
          require(u16(pos + 22) == 8, s"media ${row.media_id}: not 8-bit")
          rate = u32(pos + 12).toInt
        case "data" =>
          dataAt = pos + 8; dataLen = size
        case _ => () // unknown chunk: skip (the RIFF contract)
      }
      pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    require(rate >= 0, s"media ${row.media_id}: missing fmt chunk")
    require(dataAt >= 0, s"media ${row.media_id}: missing data chunk")
    require(dataAt + dataLen <= b.length,
      s"media ${row.media_id}: data chunk truncated")
    val n = dataLen.toInt
    var mn = 255; var mx = 0; var sum = 0L; var crossings = 0L
    val hist = new Array[Float](8)
    var i = 0
    var prevHigh = false
    while (i < n) {
      val v = b(dataAt + i) & 0xff
      if (v < mn) mn = v
      if (v > mx) mx = v
      sum += v
      hist(v >> 5) += 1f
      val high = v >= 100
      if (i > 0 && high != prevHigh) crossings += 1
      prevHigh = high
      i += 1
    }
    val checksum = b.slice(dataAt, dataAt + math.min(8, n))
      .map("%02x".format(_)).mkString
    (WavFeatures(row.media_id, rate, n.toLong,
      if (n == 0) 0 else mn, mx, sum, crossings), hist, checksum)
  }

  /** [[wavWalk]] adapted to the unified [[MediaFeatures]] contract for
    * m2: n_bytes = decoded sample count, mean over SAMPLE values,
    * n_frames = the 10 ms frame count (samples div (rate div 100) —
    * rate read from the fmt chunk BYTES), checksum/histogram over the
    * decoded samples.
    */
  def decodeWavAsMedia(row: MediaRow): MediaFeatures = {
    val (wf, hist, ck) = wavWalk(row)
    val n = wf.n_samples
    MediaFeatures(row.media_id, row.kind, 0, 0, n, ck,
      if (n > 0) wf.amp_sum.toDouble / n else 0.0,
      (n / (wf.sample_rate / 100)).toInt, hist)
  }

  /** Re-encode video rows as REAL uncompressed video streams:
    * YUV4MPEG2 with the `Cmono` (luma-only) colorspace — the ASCII
    * stream header `YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n` followed by
    * one `FRAME\n` marker per frame and 8×8 = 64 raw luma bytes per
    * frame (the payload's first 64·(len div 64) bytes; the tail that
    * doesn't fill a frame is dropped — payloads under one frame give a
    * header-only stream). ffmpeg/mpv open these blobs. The per-frame
    * marker interleave is a higher-order `aggregate` over a
    * `sequence`-built frame index — native Catalyst, map-only, no
    * shuffle at 100 TB. Non-video kinds pass through untouched.
    */
  def toY4m(media: DataFrame): DataFrame = {
    val nf = expr("length(bytes) div 64")
    val framed = aggregate(
      transform(sequence(lit(0L), nf.cast("long") - 1),
        f => concat(encode(lit("FRAME\n"), "UTF-8"),
          col("bytes").substr((f * 64 + 1).cast("int"), lit(64)))),
      lit(Array.emptyByteArray),
      (acc, x) => concat(acc, x))
    media
      .withColumn("bytes",
        when(col("kind") === "video",
          concat(
            encode(lit("YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n"), "UTF-8"),
            when(nf > 0, framed).otherwise(lit(Array.emptyByteArray))))
          .otherwise(col("bytes")))
      .withColumn("width", when(col("kind") === "video", 8)
        .otherwise(col("width")))
      .withColumn("height", when(col("kind") === "video", 8)
        .otherwise(col("height")))
  }

  case class VideoFeatures(media_id: Long, width: Int, height: Int,
                           fps_num: Int, fps_den: Int, n_frames: Int,
                           luma_min: Int, luma_max: Int, luma_sum: Long,
                           motion: Long)

  /** REAL video decode: a YUV4MPEG2 stream parser over the raw payload
    * bytes — validates the `YUV4MPEG2` magic, tokenizes the
    * space-separated header tags (W/H/F parsed; I/A/X skipped per the
    * spec; C must be `mono`), then walks `FRAME` markers (with
    * optional per-frame params up to the newline, as the format
    * allows) reading width×height luma bytes per frame. Per-PIXEL
    * integer statistics (min/max/Σ) plus an inter-frame MOTION proxy —
    * Σ|lumaSum(frame k) − lumaSum(frame k−1)| — all integers, so the
    * DuckDB oracle replays them exactly. Width/height/fps in the
    * output are what the BYTES say, not metadata columns; malformed
    * streams (bad magic, non-mono colorspace, unterminated or
    * truncated frames) fail loudly. This retires the last stubbed
    * kind: all three media kinds now decode real containers.
    */
  def decodeY4m(row: MediaRow): VideoFeatures = y4mWalk(row)._1

  /** The frame walk shared by [[decodeY4m]] (m7's integer stats) and
    * [[decodeY4mAsMedia]] (m2's unified feature frame): returns the
    * VideoFeatures plus the 8-bucket luma histogram and the hex
    * checksum of the first frame's first (≤8) luma bytes.
    */
  private def y4mWalk(row: MediaRow): (VideoFeatures, Array[Float], String) = {
    val b = row.bytes
    var i = 0
    while (i < b.length && b(i) != '\n') i += 1
    require(i < b.length, s"media ${row.media_id}: no Y4M header terminator")
    val header = new String(b, 0, i, "US-ASCII")
    i += 1
    val toks = header.split(" ")
    require(toks.nonEmpty && toks(0) == "YUV4MPEG2",
      s"media ${row.media_id}: not a YUV4MPEG2 stream")
    var w = -1; var h = -1; var fn = -1; var fd = -1
    var cs = "420jpeg" // the format's default when no C tag is present
    toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'F' =>
          val p = t.substring(1).split(":")
          require(p.length == 2, s"media ${row.media_id}: malformed F tag $t")
          fn = p(0).toInt; fd = p(1).toInt
        case 'C' => cs = t.substring(1)
        case _ => () // I (interlacing), A (aspect), X (extension): skip
      }
    }
    require(w > 0 && h > 0, s"media ${row.media_id}: missing W/H header tags")
    require(cs == "mono",
      s"media ${row.media_id}: unsupported colorspace C$cs (mono only)")
    // Long product guard as in decodePgm: a w·h Int overflow would
    // pass the per-frame truncation check with a negative frame size
    val fszL = w.toLong * h.toLong
    require(fszL >= 0 && fszL <= Int.MaxValue.toLong,
      s"media ${row.media_id}: frame size $fszL out of range")
    val fsz = fszL.toInt
    var nFrames = 0
    var mn = 255; var mx = 0; var sum = 0L; var motion = 0L
    var prevSum = -1L
    val hist = new Array[Float](8)
    var checksum = ""
    while (i < b.length) {
      require(i + 5 <= b.length && new String(b, i, 5, "US-ASCII") == "FRAME",
        s"media ${row.media_id}: missing FRAME marker at byte $i")
      i += 5
      while (i < b.length && b(i) != '\n') i += 1 // optional frame params
      require(i < b.length, s"media ${row.media_id}: unterminated FRAME header")
      i += 1
      require(b.length - i >= fsz,
        s"media ${row.media_id}: truncated frame (${b.length - i} of $fsz bytes)")
      if (nFrames == 0)
        checksum = b.slice(i, i + math.min(8, fsz))
          .map("%02x".format(_)).mkString
      var fsum = 0L
      var j = 0
      while (j < fsz) {
        val v = b(i + j) & 0xff
        if (v < mn) mn = v
        if (v > mx) mx = v
        fsum += v
        hist(v >> 5) += 1f
        j += 1
      }
      sum += fsum
      if (prevSum >= 0) motion += math.abs(fsum - prevSum)
      prevSum = fsum
      nFrames += 1
      i += fsz
    }
    (VideoFeatures(row.media_id, w, h, fn, fd, nFrames,
      if (nFrames == 0) 0 else mn, if (nFrames == 0) 0 else mx, sum, motion),
      hist, checksum)
  }

  /** [[y4mWalk]] adapted to the unified [[MediaFeatures]] contract for
    * m2: width/height from the stream header BYTES, n_bytes = decoded
    * luma byte count, mean over PIXEL values, checksum/histogram over
    * the decoded raster.
    */
  def decodeY4mAsMedia(row: MediaRow): MediaFeatures = {
    val (vf, hist, ck) = y4mWalk(row)
    val n = vf.n_frames.toLong * vf.width * vf.height
    MediaFeatures(row.media_id, row.kind, vf.width, vf.height, n, ck,
      if (n > 0) vf.luma_sum.toDouble / n else 0.0, vf.n_frames, hist)
  }

  /** REAL video feature extraction over Y4M-wrapped rows — the
    * [[decodeY4m]] kernel per partition, video rows only.
    */
  def extractY4mFeatures(s: SparkSession, media: DataFrame): Dataset[VideoFeatures] = {
    import s.implicits._
    media.filter(col("kind") === "video").as[MediaRow]
      .mapPartitions(_.map(decodeY4m))
  }

  /** Tile-grid layout for vision-encoder preprocessing: how a
    * width×height image splits into tileSize² patches (edge tiles
    * clamped) — the ViT patchification bookkeeping a multimodal
    * pipeline computes BEFORE any pixel is decoded, so it runs
    * metadata-only (the bytes column is never read; same pruning
    * contract as [[metaOnly]], pinned in MultimodalSpec). Pure
    * codegen'd integer arithmetic, map-only.
    */
  def tileGrid(media: DataFrame, tileSize: Int = 224): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("width"), col("height"),
        ceil(col("width").cast("double") / tileSize).cast("long")
          .as("tiles_x"),
        ceil(col("height").cast("double") / tileSize).cast("long")
          .as("tiles_y"))
      .withColumn("n_tiles", col("tiles_x") * col("tiles_y"))

  /** decode / feature-extract over the media table — the batched
    * narrow-transformation shape a real pipeline uses. Expects every
    * row wrapped in its kind's REAL container ([[toPgm]] ∘ [[toWav]] ∘
    * [[toY4m]] — each touches only its own kind, so the composition is
    * one map-only projection) and dispatches the matching byte-level
    * parser per row. A production impl inits its codecs here, once per
    * partition, and changes nothing about the plan.
    */
  def extractFeatures(s: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import s.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        r.kind match {
          case "image" => decodePgm(r)
          case "audio" => decodeWavAsMedia(r)
          case "video" => decodeY4mAsMedia(r)
          case other => throw new IllegalArgumentException(
            s"media ${r.media_id}: unknown kind $other")
        }
      }
    }
  }

  case class AhashRow(media_id: Long, width: Int, height: Int,
                      ahash_lo: Long, ahash_hi: Long, nbits: Int)

  /** Perceptual AVERAGE HASH from REAL decoded pixels: parse the P5
    * PGM container (the header walk [[decodePgm]] shares — magic,
    * ASCII header ints, single raster separator), then bit i of the
    * 64-bit signature is 1 iff pixel i ≥ the image's integer mean pixel
    * (sum div n — floor, so both engines agree exactly). The hash is
    * carried as TWO unsigned 32-bit halves in BIGINTs (bits 0–31 /
    * 32–63) so no engine ever sees a sign bit. Rasters shorter than
    * 64 pixels contribute 0 for the missing bits. This is the aHash
    * of image-dedup pipelines: tolerant to small pixel perturbations,
    * cheap enough to run on every image of a 100 TB crawl.
    */
  def decodePgmAhash(row: MediaRow): AhashRow = {
    val r = pgmRaster(row)
    val (b, i, n) = (row.bytes, r.offset, r.n)
    var sum = 0L
    var j = 0
    while (j < n) { sum += b(i + j) & 0xff; j += 1 }
    val mean = if (n > 0) sum / n else 0L
    var lo = 0L; var hi = 0L; var nbits = 0
    j = 0
    while (j < math.min(64, n)) {
      if ((b(i + j) & 0xff) >= mean) {
        if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
        nbits += 1
      }
      j += 1
    }
    AhashRow(row.media_id, r.width, r.height, lo, hi, nbits)
  }

  /** Per-image average hashes over the image rows of a PGM-wrapped
    * media table — a typed per-partition map (real byte decode), so
    * the 100 TB shape is a single scan with no shuffle. Zero-pixel
    * rasters (payload under one 16-byte row) are dropped: no pixels,
    * no hash.
    */
  def imageAhash(s: SparkSession, media: DataFrame): Dataset[AhashRow] = {
    import s.implicits._
    media.filter(col("kind") === "image").as[MediaRow]
      .mapPartitions(_.map(decodePgmAhash))
      .filter(col("height") > 0)
      .as[AhashRow]
  }

  /** Banded hamming near-dup join over the two-half average hashes:
    * 4×16-bit chunks (2 per half) as LSH keys — any-chunk-equal ⇒
    * candidate, which by pigeonhole guarantees FULL recall for
    * hamming ≤ 3 (the d27 SimHash argument, so the oracle can replay
    * plain all-pairs hamming instead of the bands) — then exact
    * bit_count verification. Only (id, lo, hi) shuffles, never
    * pixels; the per-chunk buckets carry the usual LSH skew posture.
    */
  def ahashNearDup(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4-band chunking only guarantees recall for hamming <= 3")
    val chunks = array((0 until 4).map { c =>
      val half = if (c < 2) col("ahash_lo") else col("ahash_hi")
      struct(lit(c).as("chunk"),
        shiftright(half, (c % 2) * 16).bitwiseAND(0xffffL).as("key"))
    }: _*)
    val banded = hashes.select(col("media_id"), col("ahash_lo"),
        col("ahash_hi"), explode(chunks).as("cb"))
      .select(col("media_id"), col("ahash_lo"), col("ahash_hi"),
        col("cb.chunk").as("chunk"), col("cb.key").as("key"))
    val a = banded.select(col("chunk"), col("key"),
      col("media_id").as("a_id"), col("ahash_lo").as("a_lo"),
      col("ahash_hi").as("a_hi"))
    val b = banded.select(col("chunk"), col("key"),
      col("media_id").as("b_id"), col("ahash_lo").as("b_lo"),
      col("ahash_hi").as("b_hi"))
    val ham = (bit_count(col("a_lo").bitwiseXOR(col("b_lo"))) +
      bit_count(col("a_hi").bitwiseXOR(col("b_hi"))))
    // the hamming test runs BEFORE the pair dedup (the simhashNearDup
    // order): every copy of a pair carries the same halves, so the
    // result is the same, and the dedup aggregate sees near pairs only
    a.join(b, Seq("chunk", "key"))
      .filter(col("a_id") < col("b_id") && ham <= maxHamming)
      .select(col("a_id"), col("b_id"), ham.as("hamming"))
      .dropDuplicates("a_id", "b_id")
  }

  /** Per-image near-dup counts via DISTINCT-HASH compression — the
    * scale path the m8 gate rides (AhashProbe, round 10): group
    * identical hashes first, run the banded join over the distinct
    * hashes only, expand counts from group sizes. The image-level
    * banded join's candidate volume is Σ_buckets n_b² over IMAGE
    * counts — it grew 195× under a 10× corpus replication (155 k →
    * 30.4 M; dup-heavy corpora collapse onto few hashes, and image
    * dedup exists precisely because corpora are dup-heavy). Grouping
    * first makes the join's volume scale with CONTENT DIVERSITY
    * (measured 15.5× at the same step), and n_neardup expands
    * exactly: an image in group g has (sz(g) − 1) zero-distance
    * neighbors plus Σ sz(g') over groups g' ≠ g within `maxHamming`.
    * Bit-identical to counting [[ahashNearDup]]'s pairs per side; the
    * oracle's all-pairs replay is unchanged.
    */
  def ahashNearDupCounts(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4-band chunking only guarantees recall for hamming <= 3")
    val g = hashes.groupBy(col("ahash_lo"), col("ahash_hi"))
      .agg(count(lit(1)).as("sz"))
    val chunks = array((0 until 4).map { c =>
      val half = if (c < 2) col("ahash_lo") else col("ahash_hi")
      struct(lit(c).as("chunk"),
        shiftright(half, (c % 2) * 16).bitwiseAND(0xffffL).as("key"))
    }: _*)
    val banded = g.select(col("ahash_lo"), col("ahash_hi"), col("sz"),
        explode(chunks).as("cb"))
      .select(col("ahash_lo"), col("ahash_hi"), col("sz"),
        col("cb.chunk").as("chunk"), col("cb.key").as("key"))
    val a = banded.select(col("chunk"), col("key"),
      col("ahash_lo").as("a_lo"), col("ahash_hi").as("a_hi"))
    val b = banded.select(col("chunk"), col("key"),
      col("ahash_lo").as("b_lo"), col("ahash_hi").as("b_hi"),
      col("sz").as("b_sz"))
    val ham = (bit_count(col("a_lo").bitwiseXOR(col("b_lo"))) +
      bit_count(col("a_hi").bitwiseXOR(col("b_hi"))))
    // DIRECTED distinct-group pairs (both orientations survive the
    // dedup) so one groupBy on the a-side sums every neighbor once;
    // the hamming test runs before the dedup, as in ahashNearDup
    val cross = a.join(b, Seq("chunk", "key"))
      .filter((col("a_lo") =!= col("b_lo") || col("a_hi") =!= col("b_hi")) &&
        ham <= maxHamming)
      .dropDuplicates("a_lo", "a_hi", "b_lo", "b_hi")
      .groupBy(col("a_lo").as("ahash_lo"), col("a_hi").as("ahash_hi"))
      .agg(sum(col("b_sz")).as("cross_n"))
    val neigh = g.join(cross, Seq("ahash_lo", "ahash_hi"), "left")
      .select(col("ahash_lo"), col("ahash_hi"),
        (col("sz") - 1 + coalesce(col("cross_n"), lit(0L))).as("n_neardup"))
    hashes.join(neigh, Seq("ahash_lo", "ahash_hi"))
      .select(col("media_id"), col("n_neardup"))
  }

  /** REAL audio feature extraction over WAV-wrapped rows — the
    * [[decodeWav]] kernel per partition, audio rows only.
    */
  def extractWavFeatures(s: SparkSession, media: DataFrame): Dataset[WavFeatures] = {
    import s.implicits._
    media.filter(col("kind") === "audio").as[MediaRow]
      .mapPartitions(_.map(decodeWav))
  }

  /** "Frame sampling" for video rows: every `stride`-th byte as a
    * stand-in for every-Nth-frame extraction; array output demonstrates
    * the explode-ready batch shape.
    */
  def frameSample(media: DataFrame, stride: Int = 64): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        transform(
          sequence(lit(0L), floor((length(col("bytes")) - 1) / stride).cast("long")),
          i => substring(col("bytes"), (i * stride + 1).cast("int"), lit(1)))
          .as("frames"))
      .select(col("media_id"), size(col("frames")).as("n_frames"))

  /** Metadata-only scan — must not read the bytes column (verified by
    * plan inspection in tests: ReadSchema excludes `bytes`).
    */
  def metaOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), col("width"), col("height"))
}
