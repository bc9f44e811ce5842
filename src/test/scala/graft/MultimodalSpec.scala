package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Seq((0L, "hello world"), (1L, "abc"), (2L, "x" * 200))
    .toDF("doc_id", "text")

  test("media table kinds cycle deterministically") {
    val kinds = Multimodal.mediaTable(docs).select("media_id", "kind")
      .as[(Long, String)].collect().toMap
    assert(kinds == Map(0L -> "image", 1L -> "audio", 2L -> "video"))
  }

  test("decode features are deterministic and sized right") {
    val media = Multimodal.toY4m(Multimodal.toWav(Multimodal.toPgm(
      Multimodal.mediaTable(docs))))
    val feats = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.media_id -> f).toMap
    // image row 0: "hello world" is 11 bytes < one 16-px raster row →
    // a REAL (degenerate) 16×0 PGM: zero pixels decoded
    assert(feats(0L).width == 16 && feats(0L).height == 0)
    assert(feats(0L).n_bytes == 0 && feats(0L).mean_byte == 0.0)
    assert(feats(0L).feature.length == 8)
    // audio row 1: 3 decoded samples, under one 10 ms frame (160)
    assert(feats(1L).n_bytes == 3 && feats(1L).n_frames == 0)
    assert(feats(1L).mean_byte == ('a' + 'b' + 'c') / 3.0)
    // video row 2: 200 bytes → three real 8×8 Y4M frames, tail dropped
    assert(feats(2L).n_frames == 200 / 64)
    assert(feats(2L).width == 8 && feats(2L).height == 8)
    assert(feats(2L).n_bytes == 192 && feats(2L).mean_byte == 'x'.toInt)
    val again = Multimodal.extractFeatures(spark, media)
      .collect().map(f => f.media_id -> f.checksum).toMap
    assert(feats.map { case (k, v) => k -> v.checksum } == again)
  }

  test("Y4M round-trip: toY4m writes a real YUV4MPEG2 stream, decodeY4m reads frames") {
    // doc 2 kind=video; 129 bytes → 2 full 64-byte frames, 1-byte tail
    val text = "a" * 64 + "b" * 64 + "c"
    val d = Seq((2L, text)).toDF("doc_id", "text")
    val media = Multimodal.toY4m(Multimodal.mediaTable(d))
    val raw = media.select("bytes").as[Array[Byte]].head()
    val hdr = "YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n"
    assert(new String(raw.take(hdr.length), "US-ASCII") == hdr)
    // FRAME markers sit exactly where the format says they should
    assert(new String(raw.slice(hdr.length, hdr.length + 6), "US-ASCII")
      == "FRAME\n")
    assert(new String(raw.slice(hdr.length + 6 + 64, hdr.length + 6 + 64 + 6),
      "US-ASCII") == "FRAME\n")
    assert(raw.length == hdr.length + 2 * (6 + 64)) // tail byte dropped
    val f = Multimodal.extractY4mFeatures(spark, media).collect()(0)
    assert(f.width == 8 && f.height == 8 && f.fps_num == 25 && f.fps_den == 1)
    assert(f.n_frames == 2)
    assert(f.luma_min == 'a'.toInt && f.luma_max == 'b'.toInt)
    assert(f.luma_sum == 64L * ('a' + 'b'))
    assert(f.motion == 64L * ('b' - 'a')) // |Σframe2 − Σframe1|
    // under one frame → header-only stream, zero frames decoded
    val tiny = Multimodal.extractY4mFeatures(spark,
      Multimodal.toY4m(Multimodal.mediaTable(
        Seq((2L, "short")).toDF("doc_id", "text")))).collect()(0)
    assert(tiny.n_frames == 0 && tiny.luma_sum == 0L && tiny.motion == 0L)
  }

  test("decodeY4m rejects malformed streams loudly") {
    import Multimodal.MediaRow
    def row(bytes: Array[Byte]) = MediaRow(2L, "video", bytes, 0, 0, 0)
    // wrong magic
    assertThrows[IllegalArgumentException](
      Multimodal.decodeY4m(row("YUV4MPEG1 W8 H8 Cmono\nFRAME\n".getBytes)))
    // non-mono colorspace must be refused, not mis-sized
    assertThrows[IllegalArgumentException](
      Multimodal.decodeY4m(row("YUV4MPEG2 W8 H8 C420\nFRAME\n".getBytes)))
    // truncated frame: marker promises 64 luma bytes, 3 exist
    assertThrows[IllegalArgumentException](
      Multimodal.decodeY4m(row(
        "YUV4MPEG2 W8 H8 Cmono\nFRAME\nabc".getBytes)))
    // missing W tag
    assertThrows[IllegalArgumentException](
      Multimodal.decodeY4m(row("YUV4MPEG2 H8 Cmono\n".getBytes)))
    // per-frame params and unknown header tags are legal per the spec
    val ok = Multimodal.decodeY4m(row(
      ("YUV4MPEG2 W2 H2 F30:1 Ip A1:1 Cmono Xfoo\n" +
        "FRAME Ixyz\nabcd" + "FRAME\nabce").getBytes))
    assert(ok.width == 2 && ok.height == 2 && ok.n_frames == 2)
    assert(ok.fps_num == 30 && ok.motion == 1L)
  }

  test("PGM round-trip: toPgm writes a real P5 file, decodePgm reads the pixels") {
    // 40 'x' bytes → 16×2 raster (tail 8 bytes dropped), all pixels 120
    val d = Seq((0L, "x" * 40)).toDF("doc_id", "text")
    val media = Multimodal.toPgm(Multimodal.mediaTable(d))
    val raw = media.select("bytes").as[Array[Byte]].head()
    // the blob IS a valid PGM: header tokens + raster of w*h bytes
    val header = new String(raw.take(19), "US-ASCII")
    assert(header == "P5\n00016 00002\n255\n")
    assert(raw.length == 19 + 32)
    assert(raw.drop(19).forall(_ == 'x'.toByte))
    val f = Multimodal.extractFeatures(spark, media).collect()(0)
    assert(f.width == 16 && f.height == 2 && f.n_bytes == 32)
    assert(f.mean_byte == 120.0) // decoded from actual pixel bytes
    assert(f.checksum == "78" * 8)
    assert(f.feature(120 >> 5) == 32f) // full histogram mass in one bucket
  }

  test("decodePgmAhash: bits follow the integer mean, halves stay unsigned") {
    // 32×'a'(97) + 32×'z'(122): mean = (32·97+32·122) div 64 = 109 →
    // pixels 0–31 below, 32–63 above: lo = 0, hi = 2^32 − 1
    val d = Seq((0L, "a" * 32 + "z" * 32)).toDF("doc_id", "text")
    val h = Multimodal.imageAhash(spark,
      Multimodal.toPgm(Multimodal.mediaTable(d))).collect()(0)
    assert(h.ahash_lo == 0L && h.ahash_hi == 4294967295L && h.nbits == 32)
    // raster shorter than 64 pixels: missing bits stay 0
    val s = Seq((0L, "a" * 16 + "z" * 16)).toDF("doc_id", "text")
    val hs = Multimodal.imageAhash(spark,
      Multimodal.toPgm(Multimodal.mediaTable(s))).collect()(0)
    assert(hs.ahash_lo == 4294901760L && hs.ahash_hi == 0L && hs.nbits == 16)
  }

  test("ahashNearDup: one-pixel perturbation is hamming 1, inversions are far") {
    // doc 3 flips exactly pixel 31 of doc 0's raster; doc 6 inverts
    // the halves (hamming 63 from doc 3, 64 from doc 0)
    val d = Seq((0L, "a" * 32 + "z" * 32), (3L, "a" * 31 + "z" * 33),
      (6L, "z" * 32 + "a" * 32)).toDF("doc_id", "text")
    val h = Multimodal.imageAhash(spark,
      Multimodal.toPgm(Multimodal.mediaTable(d))).toDF()
    val pairs = Multimodal.ahashNearDup(h, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((0L, 3L, 1)), s"got $pairs")
  }

  test("ahashNearDupCounts: distinct-hash compression matches pair counting") {
    // docs 0/10/20 share one raster (one hash group of 3), doc 3 is
    // hamming-1 from it, doc 6 is far: group members count each other
    // (sz-1 = 2) plus the near group (1) = 3; doc 3 counts the 3-group
    val d = Seq((0L, "a" * 32 + "z" * 32), (9L, "a" * 32 + "z" * 32),
      (12L, "a" * 32 + "z" * 32), (3L, "a" * 31 + "z" * 33),
      (6L, "z" * 32 + "a" * 32)).toDF("doc_id", "text")
    val h = Multimodal.imageAhash(spark,
      Multimodal.toPgm(Multimodal.mediaTable(d))).toDF()
    val got = Multimodal.ahashNearDupCounts(h, maxHamming = 3)
      .as[(Long, Long)].collect().toMap
    // media_id = doc_id-derived; counts: the 3-group members 2+1=3,
    // the perturbed one 0+3=3, the inverted one 0
    val grp = h.select(col("media_id")).as[Long].collect().toSet
    assert(grp.size == 5)
    val byPairPath = {
      val pairs2 = Multimodal.ahashNearDup(h, maxHamming = 3)
      pairs2.select(explode(array(col("a_id"), col("b_id"))).as("id"))
        .groupBy(col("id")).count().as[(Long, Long)].collect().toMap
    }
    got.foreach { case (id, n) =>
      assert(n == byPairPath.getOrElse(id, 0L),
        s"id $id: compressed $n vs pairs ${byPairPath.getOrElse(id, 0L)}")
    }
    assert(got.values.count(_ == 3L) == 4 && got.values.count(_ == 0L) == 1)
  }

  test("WAV round-trip: toWav writes a real RIFF container, decodeWav reads samples") {
    // doc 1 (audio kind): "abc" → 3 samples a/b/c
    val media = Multimodal.toWav(Multimodal.mediaTable(docs))
    val raw = media.filter($"media_id" === 1L)
      .select("bytes").as[Array[Byte]].head()
    // RIFF structure checks on the actual bytes
    assert(new String(raw.take(4), "US-ASCII") == "RIFF")
    assert(new String(raw.slice(8, 12), "US-ASCII") == "WAVE")
    assert(new String(raw.slice(12, 16), "US-ASCII") == "fmt ")
    assert(new String(raw.slice(36, 40), "US-ASCII") == "data")
    assert(raw.length == 44 + 3)
    // u32le sample rate at offset 24: 16000 = 0x3E80 → 80 3E 00 00
    assert((raw(24) & 0xff) == 0x80 && (raw(25) & 0xff) == 0x3e)
    val f = Multimodal.extractWavFeatures(spark, media).collect()(0)
    assert(f.media_id == 1L && f.sample_rate == 16000 && f.n_samples == 3)
    assert(f.amp_min == 'a'.toInt && f.amp_max == 'c'.toInt)
    assert(f.amp_sum == ('a' + 'b' + 'c').toLong)
    assert(f.crossings == 0) // all samples ≥ 100
    // crafted crossings: "ab cd e" crosses the 100 level 3 times
    val d2 = Seq((1L, "ab cd e")).toDF("doc_id", "text")
    val f2 = Multimodal.extractWavFeatures(spark,
      Multimodal.toWav(Multimodal.mediaTable(d2))).collect()(0)
    assert(f2.crossings == 3 && f2.amp_min == 32)
  }

  test("decodeWav rejects malformed containers loudly") {
    import Multimodal.MediaRow
    def row(bytes: Array[Byte]) = MediaRow(1L, "audio", bytes, 0, 0, 0)
    assertThrows[IllegalArgumentException](
      Multimodal.decodeWav(row("RIFX1234WAVE".getBytes))) // bad magic
    assertThrows[IllegalArgumentException](
      Multimodal.decodeWav(row("RIFF1234WAVE".getBytes))) // no chunks
    // data chunk promising more bytes than exist
    val bad = "RIFF....WAVEfmt " .getBytes ++
      Array[Byte](16, 0, 0, 0, 1, 0, 1, 0) ++
      Array[Byte](0x80.toByte, 0x3e, 0, 0, 0x80.toByte, 0x3e, 0, 0, 1, 0, 8, 0) ++
      "data".getBytes ++ Array[Byte](99, 0, 0, 0) ++ "xy".getBytes
    assertThrows[IllegalArgumentException](Multimodal.decodeWav(row(bad)))
  }

  test("decodePgm rejects malformed blobs loudly") {
    import Multimodal.MediaRow
    def row(bytes: Array[Byte]) = MediaRow(1L, "image", bytes, 0, 0, 0)
    // both image decoders read their header through one parser
    val decoders: Seq[MediaRow => Any] =
      Seq(Multimodal.decodePgm, Multimodal.decodePgmAhash)
    decoders.foreach { decode =>
      // wrong magic
      assertThrows[IllegalArgumentException](
        decode(row("P6\n2 2\n255\n1234".getBytes)))
      // truncated raster: header promises 4 pixels, payload has 2
      assertThrows[IllegalArgumentException](
        decode(row("P5\n2 2\n255\nab".getBytes)))
      // unsupported maxval
      assertThrows[IllegalArgumentException](
        decode(row("P5\n1 1\n65535\n  ".getBytes)))
      // no separator byte between maxval and the raster
      assertThrows[IllegalArgumentException](
        decode(row("P5\n1 1\n255".getBytes)))
      // 65536·65536 wraps an Int to 0 pixels; the Long guard refuses it
      assertThrows[IllegalArgumentException](
        decode(row("P5\n65536 65536\n255\nab".getBytes)))
    }
    // arbitrary-whitespace header (the general PGM form) parses fine
    val ok = Multimodal.decodePgm(row("P5 2\t1\r\n255\nAB".getBytes))
    assert(ok.width == 2 && ok.height == 1 && ok.mean_byte == 65.5)
    val okHash = Multimodal.decodePgmAhash(row("P5 2\t1\r\n255\nAB".getBytes))
    // pixels 65, 66 against the integer mean 65: both bits set
    assert(okHash.width == 2 && okHash.height == 1 && okHash.ahash_lo == 3L)
  }

  test("metadata-only scan does not touch the bytes column") {
    val plan = Multimodal.metaOnly(Multimodal.mediaTable(docs))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("bytes"))
  }

  test("tileGrid: clamped ceil grid; bytes column never read") {
    val tiles = Multimodal.tileGrid(Multimodal.mediaTable(docs), 224)
    assert(!tiles.queryExecution.optimizedPlan.toString.contains("bytes"))
    val byId = tiles.select("media_id", "width", "height", "n_tiles")
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    byId.values.foreach { case (_, w, h, n) =>
      assert(n == ((w + 223) / 224).toLong * ((h + 223) / 224).toLong)
    }
    assert(byId.nonEmpty)
  }

  test("header round-trip: decodeHeader parses withHeader's real bytes") {
    val media = Multimodal.withHeader(Multimodal.mediaTable(docs))
    // the raw blob really starts with the 4 magic bytes + BE words
    val raw = media.filter($"media_id" === 0L)
      .select("bytes").as[Array[Byte]].head()
    assert(new String(raw.take(4), "UTF-8") == "GRFT")
    assert(((raw(4) & 0xff) << 8 | (raw(5) & 0xff)) == 320) // width u16be
    val decoded = Multimodal.decodeHeader(media)
      .select("media_id", "magic", "width", "height", "sample_rate", "n_bytes")
      .as[(Long, String, Int, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    val meta = Multimodal.mediaTable(docs)
      .select("media_id", "width", "height", "sample_rate")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    decoded.foreach { case (id, (_, magic, w, h, sr, n)) =>
      assert(magic == "GRFT")
      assert((w, h, sr) == (meta(id)._2, meta(id)._3, meta(id)._4))
      assert(n >= 0)
    }
    assert(decoded(0L)._6 == 11) // payload length excludes the header
  }

  test("frame sample counts ceil(n_bytes/stride)") {
    val got = Multimodal.frameSample(Multimodal.mediaTable(docs), stride = 64)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(2L -> 4)) // 200 bytes → ceil(200/64)=4
  }
}
