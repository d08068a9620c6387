package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every input a workload feeds the engine is
  * derived here from the run's seed, so the same seed gives the same
  * rows (and the same [[digest]]) on every machine.
  *
  * Corpora are Zipf-vocabulary text with the `documents.parquet`
  * columns (doc_id, text, lang, source, n_chars). The vocabulary size
  * grows as ~2 * tokens^0.8 (Heaps' law), so head terms are dense and
  * the tail is sparse, unlike the repository's ~31-term test fixture,
  * where every term is dense. */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(val n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val consonants = "bcdfghjklmnprstvwxzq"
  private val vowels = "aeiou"

  /** The term of a vocabulary rank: a unique lowercase syllable word
    * (rank + 100 written in base 100, one consonant-vowel syllable per
    * digit), so every term is one token under the default analyzer. */
  def word(rank: Int): String = {
    var v = rank.toLong + 100L
    val sb = new StringBuilder
    while (v > 0) {
      val d = (v % 100).toInt
      sb.insert(0, s"${consonants(d / 5)}${vowels(d % 5)}")
      v /= 100
    }
    sb.toString
  }

  def vocabSize(tokens: Long): Int = math.max(1000, (2.0 * math.pow(tokens.toDouble, 0.8)).toInt)

  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "it", "it", "de")
  private val sources = Array("web", "news", "forum", "wiki", "books")

  /** Token ranks of one document: 20 to 100 tokens drawn from `zipf`,
    * shifted by `rankOffset` (vocabulary drift). */
  def docRanks(rng: SplittableRandom, zipf: Zipf, rankOffset: Int): Array[Int] =
    Array.fill(20 + rng.nextInt(81))(zipf.sample(rng) + rankOffset)

  /** Renders tokens as prose: sentence-case, commas and full stops, so
    * the analyzer's lowercase/split path does real work. */
  def render(rng: SplittableRandom, words: Array[String]): String = {
    val sb = new StringBuilder
    var sentenceStart = true
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (i > 0) sb.append(' ')
      if (sentenceStart) sb.append(w.capitalize) else sb.append(w)
      sentenceStart = false
      if (i < words.length - 1) {
        val p = rng.nextInt(20)
        if (p == 0) { sb.append('.'); sentenceStart = true }
        else if (p == 1) sb.append(',')
      } else sb.append('.')
      i += 1
    }
    sb.toString
  }

  def mkDoc(rng: SplittableRandom, id: Long, words: Array[String]): Doc =
    Doc(id, render(rng, words), langs(rng.nextInt(langs.length)),
      sources(rng.nextInt(sources.length)))

  /** A Zipf corpus of `nDocs` documents with ids from `firstId`. */
  def corpus(seed: Long, nDocs: Int, firstId: Long = 0L,
      rankOffset: Int = 0): (Array[Doc], Zipf) = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(vocabSize(nDocs.toLong * 60L), 1.05)
    val docs = Array.tabulate(nDocs) { i =>
      mkDoc(rng, firstId + i, docRanks(rng, zipf, rankOffset).map(word))
    }
    (docs, zipf)
  }

  /** Rank of the j-th batch-only term of append batch `b`: far beyond
    * any base or drifted vocabulary rank, so only that batch has it. */
  def freshRank(b: Int, j: Int): Int = 5000000 + b * 1000 + j

  /** One append batch: `n` documents whose vocabulary drifts by
    * `drift` ranks per batch, each carrying one of the batch's
    * `nFresh` batch-only terms. */
  def appendBatch(seed: Long, b: Int, n: Int, firstId: Long, zipf: Zipf,
      drift: Int, nFresh: Int): Array[Doc] = {
    val rng = new SplittableRandom(seed * 1000003L + b)
    Array.tabulate(n) { i =>
      val ranks = docRanks(rng, zipf, (b + 1) * drift)
      val words = ranks.map(word)
      words(rng.nextInt(words.length)) = word(freshRank(b, i % nFresh))
      mkDoc(rng, firstId + i, words)
    }
  }

  /** A corpus with near-duplicates planted at `rate`: each planted doc
    * copies an earlier original (never another planted copy, so
    * clusters stay stars and the cluster fixpoint needs the same few
    * rounds for every seed) and applies 1 to `maxEdits` token edits
    * (substitute, insert or delete). Returns the corpus and the planted
    * (original, duplicate) id pairs. */
  def withNearDups(seed: Long, nDocs: Int, rate: Double,
      maxEdits: Int): (Array[Doc], Seq[(Long, Long)]) = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val zipf = new Zipf(vocabSize(nDocs.toLong * 60L), 1.05)
    val words = new Array[Array[String]](nDocs)
    val planted = Seq.newBuilder[(Long, Long)]
    val originals = mutable.ArrayBuffer.empty[Int]
    val docs = Array.tabulate(nDocs) { i =>
      if (i > 10 && rng.nextDouble() < rate) {
        val orig = originals(rng.nextInt(originals.size))
        val w = words(orig).toBuffer
        (0 until 1 + rng.nextInt(maxEdits)).foreach { _ =>
          val pos = rng.nextInt(w.length)
          rng.nextInt(3) match {
            case 0 => w(pos) = word(zipf.sample(rng))
            case 1 => w.insert(pos, word(zipf.sample(rng)))
            case _ => if (w.length > 20) w.remove(pos)
          }
        }
        words(i) = w.toArray
        planted += orig.toLong -> i.toLong
      } else {
        words(i) = docRanks(rng, zipf, 0).map(word)
        originals += i
      }
      mkDoc(rng, i.toLong, words(i))
    }
    (docs, planted.result())
  }

  /** Same tokenization rule as the engine's default analyzer, written
    * independently for the output checks. */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** SHA-256 over the canonical row encoding of every generated input. */
  def digest(parts: Iterable[Doc]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(_.foreach { d =>
      md.update(s"${d.id}\u0001${d.text}\u0001${d.lang}\u0001${d.source}\n".getBytes("UTF-8"))
    })
    md.digest().map("%02x".format(_)).mkString
  }

  /** Input sizes reported with every run. */
  final case class Sizes(docs: Long, tokens: Long, distinctTerms: Long, bytes: Long)

  def sizes(docs: Iterable[Doc]): Sizes = {
    var n = 0L; var t = 0L; var b = 0L
    val terms = new java.util.HashSet[String]()
    docs.foreach { d =>
      n += 1; b += d.text.getBytes("UTF-8").length
      val ts = tokens(d.text); t += ts.length
      ts.foreach(terms.add)
    }
    Sizes(n, t, terms.size.toLong, b)
  }
}
