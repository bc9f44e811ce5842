package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

/** One corpus row, in the column order of `documents.parquet`. */
final case class Doc(id: Long, text: String, lang: String, source: String,
                     nChars: Long) {
  /** Bytes the user hands over for this row (8-byte integers, UTF-8 text). */
  def userBytes: Long =
    16L + Seq(text, lang, source).map(_.getBytes(StandardCharsets.UTF_8).length).sum
}

/** A write batch plus what it plants: pairs (original, copy) whose texts
  * are identical, and pairs whose texts differ in one token.
  */
final case class Batch(docs: Seq[Doc], exactPairs: Seq[(Long, Long)],
                       nearPairs: Seq[(Long, Long)]) {
  def userBytes: Long = docs.map(_.userBytes).sum
}

/** The harness's in-memory model of the curated table: `TxTable.upsert`
  * keyed on doc_id replaces the whole row of an existing id and appends a
  * row for a new id.
  */
final class CorpusModel(initial: Seq[Doc]) {
  private val docs = mutable.TreeMap.empty[Long, Doc] ++ initial.map(d => d.id -> d)
  private val planted = mutable.ArrayBuffer.empty[(Long, Long)]

  def upsert(b: Batch): Unit = {
    b.docs.foreach(d => docs(d.id) = d)
    planted ++= b.exactPairs
  }

  def size: Int = docs.size
  def idSum: Long = docs.keysIterator.sum
  def ids: Seq[Long] = docs.keys.toSeq
  def get(id: Long): Option[Doc] = docs.get(id)
  def maxId: Long = if (docs.isEmpty) -1L else docs.lastKey

  /** doc_id -> md5 of text, the (doc_id, text) digest the table must match */
  def textDigests: Map[Long, String] =
    docs.iterator.map { case (id, d) => id -> CorpusModel.md5Hex(d.text) }.toMap

  /** What `Dedup.exact` must return: fingerprint -> (min doc_id, copies). */
  def exactGroups: Map[String, (Long, Long)] =
    docs.values.groupBy(d => CorpusModel.fingerprint(d.text)).map {
      case (fp, ds) => fp -> (ds.map(_.id).min, ds.size.toLong)
    }

  /** Planted exact copies whose two texts are still identical now (a later
    * update of either id can break a pair).
    */
  def livePlantedPairs: Seq[(Long, Long)] = planted.toSeq.distinct.filter {
    case (a, b) => (docs.get(a), docs.get(b)) match {
      case (Some(x), Some(y)) => x.text == y.text
      case _ => false
    }
  }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
}

object CorpusModel {
  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** `TextAnalysis.fingerprint`: md5(lower(regexp_replace(trim(t), \s+, ' '))),
    * where Spark's trim strips only the space character.
    */
  def fingerprint(text: String): String = {
    val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    md5Hex(trimmed.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT))
  }

  /** `TextAnalysis.tokens`: split on \s+, trailing empties kept. */
  def tokens(text: String): Array[String] = text.split("\\s+", -1)

  /** `Dedup.shingleRows`: distinct word k-grams; a doc with fewer than k
    * tokens yields its whole token sequence as one shingle.
    */
  def shingles(text: String, k: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < k) Set(t.mkString(" "))
    else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String, k: Int): Double = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }
}

/** Seeded generator of `curate`'s write batches. Every batch holds
  * updates of existing ids, fresh rows under new ids, exact copies of
  * earlier texts and one-token near copies of earlier texts.
  */
final class BatchGen(seed: Long, vocab: IndexedSeq[String]) {
  private val rng = new Random(seed)

  private def text(): String =
    Seq.fill(20 + rng.nextInt(60))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private def doc(id: Long, t: String): Doc =
    Doc(id, t, if (rng.nextInt(4) == 0) "de" else "en", "bench", t.length.toLong)

  def next(model: CorpusModel, updates: Int = 16, fresh: Int = 16,
           exact: Int = 8, near: Int = 8): Batch = {
    val ids = model.ids.toIndexedSeq
    var nextId = model.maxId + 1
    def newId(): Long = { val i = nextId; nextId += 1; i }
    val updated = rng.shuffle(ids).take(updates).map(id => doc(id, text()))
    val touched = updated.map(_.id).toSet
    val fresh_ = Seq.fill(fresh)(doc(newId(), text()))
    // copy sources are rows this batch leaves untouched, so every planted
    // pair holds right after the commit
    val sources = ids.filterNot(touched)
    val exactCopies = Seq.fill(exact) {
      val src = model.get(sources(rng.nextInt(sources.size))).get
      (src.id, doc(newId(), src.text))
    }
    val nearCopies = Seq.fill(near) {
      val src = model.get(sources(rng.nextInt(sources.size))).get
      val toks = CorpusModel.tokens(src.text)
      val i = rng.nextInt(toks.length)
      toks(i) = toks(i) + "x"
      (src.id, doc(newId(), toks.mkString(" ")))
    }
    Batch(updated ++ fresh_ ++ exactCopies.map(_._2) ++ nearCopies.map(_._2),
      exactCopies.map { case (s, d) => (s, d.id) },
      nearCopies.map { case (s, d) => (s, d.id) })
  }
}
