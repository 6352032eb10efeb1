package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.ops.NewsPipeline

/** Seeded news-article generator. The seed fully determines every
  * article: each article draws from its own random stream, keyed by
  * (seed, purpose, id), so the same id gives the same bytes no matter
  * which thread, partition or order produces it.
  *
  * Text properties the pipeline's behaviour depends on:
  *  - a Zipf vocabulary of [[VocabSize]] pseudo-words, none of which
  *    contains a lexicon keyword, so keyword hits come only from planting;
  *  - 2–8 lexicon keywords planted for an intended category (Zipf-skewed
  *    over the seven categories), sometimes with fewer keywords of a second
  *    category as noise, and a small keyword-free share (`unknown`);
  *  - short articles (headline + description, the Kaggle News-Category
  *    shape) and long ones (full bodies of 2–5 k characters);
  *  - article ids (`nw<digits>`) that carry no lexicon substring.
  */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  val vocab: Array[String] = buildVocab()
  private val wordCdf: Array[Double] = zipfCdf(vocab.length, ZipfExponent)

  /** Lexicon categories in a seed-shuffled order; weight of rank r is 1/r. */
  val categories: Array[String] = {
    val cats = NewsPipeline.lexicon.map(_._1).toArray
    shuffle(cats, rng(StreamCategories, 0))
    cats
  }
  private val keywords: Map[String, Seq[String]] = NewsPipeline.lexicon.toMap
  private val catCdf: Array[Double] = zipfCdf(categories.length, 1.0)

  def rng(stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  def word(r: SplittableRandom): String = vocab(draw(wordCdf, r.nextDouble()))

  /** Intended category, or None for the keyword-free share. */
  def intendedCategory(r: SplittableRandom): Option[String] =
    if (r.nextDouble() < UnknownShare) None
    else Some(categories(draw(catCdf, r.nextDouble())))

  /** `n` Zipf words with `planted` keywords of `cat`. */
  def words(r: SplittableRandom, n: Int, cat: Option[String], planted: Int): Array[String] = {
    val ws = Array.fill(n)(word(r))
    plant(r, ws, cat, planted)
    ws
  }

  /** Zipf words up to `chars` characters with planted keywords, topped up
    * with further Zipf words if planting shortened the text. */
  def textOfLength(r: SplittableRandom, chars: Int, cat: Option[String], planted: Int): String = {
    val buf = mutable.ArrayBuffer[String]()
    var len = -1
    while (len < chars) { val w = word(r); buf += w; len += w.length + 1 }
    val ws = buf.toArray
    plant(r, ws, cat, planted)
    val sb = new StringBuilder(ws.mkString(" "))
    while (sb.length < chars) sb.append(' ').append(word(r))
    sb.toString
  }

  /** Writes `planted` keywords of `cat` over random positions, plus (for
    * [[NoiseShare]] of articles) one keyword of another category, so the
    * intended category still has the most hits. */
  private def plant(r: SplittableRandom, ws: Array[String], cat: Option[String],
      planted: Int): Unit = cat.foreach { c =>
    val n = ws.length
    val own = keywords(c)
    val slots = r.ints(0, n).distinct().limit(math.min(planted + 1, n).toLong).toArray
    slots.take(planted).foreach(i => ws(i) = own(r.nextInt(own.size)))
    if (planted > 1 && slots.length > planted && r.nextDouble() < NoiseShare) {
      val other = categories.filterNot(_ == c)
      val kws = keywords(other(r.nextInt(other.length)))
      ws(slots(planted)) = kws(r.nextInt(kws.size))
    }
  }

  /** A short article in the Kaggle News-Category shape. */
  def shortArticle(id: Long): Article = {
    val r = rng(StreamShort, id)
    val cat = intendedCategory(r)
    val head = words(r, 5 + r.nextInt(8), None, 0)
    val desc = words(r, 12 + r.nextInt(14), cat, 2 + r.nextInt(3))
    val authors = Seq.fill(1 + r.nextInt(2))(s"${word(r).capitalize} ${word(r).capitalize}")
    Article(id, (idToken(id) +: head).mkString(" "), authors, desc.mkString(" "),
      s"https://news.example/${idToken(id)}", cat.getOrElse("unknown"))
  }

  /** A long article body of 2 000–5 000 characters, id token first. */
  def longText(id: Long): String = {
    val r = rng(StreamLong, id)
    val cat = intendedCategory(r)
    idToken(id) + " " + textOfLength(r, 2000 + r.nextInt(3001), cat, 3 + r.nextInt(6))
  }

  /** A syndicated-length article body of 150–450 words. */
  def mediumText(id: Long): String = {
    val r = rng(StreamMedium, id)
    val cat = intendedCategory(r)
    (idToken(id) +: words(r, 150 + r.nextInt(301), cat, 2 + r.nextInt(4))).mkString(" ")
  }

  /** Incoming article `i` of the admission workload: an exact copy of a
    * corpus article, a copy with 1–2 words edited, or a fresh article. */
  def incoming(i: Long, corpusSize: Long, firstId: Long): Incoming = {
    val r = rng(StreamIncoming, i)
    val u = r.nextDouble()
    if (u < ExactCopyShare) {
      val src = r.nextLong(corpusSize)
      Incoming(firstId + i, mediumText(src), Some(src), exact = true)
    } else if (u < ExactCopyShare + EditedCopyShare) {
      val src = r.nextLong(corpusSize)
      val ws = mediumText(src).split(" ")
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val pos = 1 + r.nextInt(ws.length - 1) // never the id token
        var w = word(r)
        while (w == ws(pos)) w = word(r)
        ws(pos) = w
      }
      Incoming(firstId + i, ws.mkString(" "), Some(src), exact = false)
    } else Incoming(firstId + i, mediumText(firstId + i), None, exact = false)
  }

  private def buildVocab(): Array[String] = {
    val r = rng(StreamVocab, 0)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val sb = new StringBuilder
      val syllables = 1 + r.nextInt(4)
      (0 until syllables).foreach { _ =>
        sb.append(Onsets(r.nextInt(Onsets.length)))
        sb.append(Vowels(r.nextInt(Vowels.length)))
        if (r.nextDouble() < 0.3) sb.append(Codas(r.nextInt(Codas.length)))
      }
      val w = sb.toString
      if (w.length >= 2 && lexiconFree(w)) seen += w
    }
    // frequent words are short, as in natural text; this also keeps the
    // mean article length from depending on which words the seed ranks first
    seen.toArray.sortBy(_.length)
  }
}

object Gen {
  val VocabSize = 30000
  /** Word-frequency skew. At 1.0 the few most frequent words outvote the
    * rest of every article in the 64-bit SimHash, fingerprints of unrelated
    * articles converge, and exact copies tie at Hamming 0 with strangers. */
  val ZipfExponent = 0.8
  val UnknownShare = 0.02
  val NoiseShare = 0.3
  val ExactCopyShare = 0.10
  val EditedCopyShare = 0.10

  private val StreamVocab = 1L
  private val StreamCategories = 2L
  private val StreamShort = 3L
  private val StreamLong = 4L
  private val StreamMedium = 5L
  private val StreamIncoming = 6L

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "ch", "dr", "gl", "kr", "pl", "sh", "st", "th", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")
  private val Codas = Array("l", "m", "n", "r", "s", "t", "x", "nd", "rk")

  val allKeywords: Set[String] = NewsPipeline.lexicon.flatMap(_._2).toSet

  def lexiconFree(s: String): Boolean = !allKeywords.exists(s.contains)

  def idToken(id: Long): String = {
    val t = s"nw$id"
    require(lexiconFree(t), s"id token $t carries a lexicon keyword")
    t
  }

  val IdPattern = "nw(\\d+)"

  final case class Article(id: Long, headline: String, authors: Seq[String],
      description: String, link: String, category: String) {
    def jsonLine: String = {
      val au = authors.map(quote).mkString("[", ",", "]")
      s"""{"headline":${quote(headline)},"authors":$au,"short_description":${quote(description)},"link":${quote(link)},"category":${quote(category)}}"""
    }
  }

  final case class Incoming(id: Long, text: String, source: Option[Long], exact: Boolean)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** splitmix64 finaliser over (a, b): decorrelates nearby seeds and ids. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Index of the first cdf entry ≥ u. */
  def draw(cdf: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  def shuffle[T](a: Array[T], r: SplittableRandom): Unit =
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
}
