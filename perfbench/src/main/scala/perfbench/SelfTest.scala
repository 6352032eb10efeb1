package perfbench

import java.security.MessageDigest

import scala.collection.mutable

/** Self-tests of the benchmark's own parts: generator determinism and
  * text properties, percentile, self-time and open-loop arithmetic.
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on a failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => println(s"  error: $e"); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += name
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** Every input byte a run of `seed` would produce, hashed. */
  def inputDigest(seed: Long): String = {
    val g = new Gen(seed)
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String) = md.update((s + "\n").getBytes("UTF-8"))
    (0L until 300).foreach(id => add(g.shortArticle(id).jsonLine))
    (0L until 50).foreach(id => add(g.longText(id)))
    (0L until 100).foreach(id => add(g.mediumText(id)))
    (0L until 200).foreach(i => add(g.incoming(i, 100, 100).text))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    check("same seed gives byte-identical inputs")(inputDigest(7) == inputDigest(7))
    check("different seed gives different inputs")(inputDigest(7) != inputDigest(8))

    val g = new Gen(11)
    check("vocabulary: distinct Zipf words, none carrying a lexicon keyword") {
      g.vocab.length == Gen.VocabSize && g.vocab.distinct.length == g.vocab.length &&
        g.vocab.forall(Gen.lexiconFree)
    }
    check("article ids carry no lexicon substring") {
      (0L until 100000L by 7).forall(id => Gen.lexiconFree(Gen.idToken(id)))
    }
    check("Zipf word frequencies: rank 1 is drawn far more than rank 1000") {
      val r = g.rng(99, 0)
      val counts = mutable.Map[String, Int]().withDefaultValue(0)
      (0 until 200000).foreach(_ => counts(g.word(r)) += 1)
      counts(g.vocab(0)) > 20 * math.max(counts(g.vocab(999)), 1)
    }
    val shorts = (0L until 2000).map(g.shortArticle)
    check("short articles: ~headline plus description length, Zipf category skew") {
      val chars = shorts.map(a => a.headline.length + a.description.length)
      val byCat = shorts.groupBy(_.category).map { case (c, as) => c -> as.size }
      Stats.median(chars.map(_.toDouble)) > 80 && chars.max < 400 &&
        byCat(g.categories(0)) > 3 * byCat(g.categories(6)) && byCat.contains("unknown")
    }
    check("planted keywords make the intended category win") {
      val kw = graft.ops.NewsPipeline.lexicon
      shorts.filter(_.category != "unknown").forall { a =>
        val counts = kw.map { case (c, ws) => c -> ws.map(w => a.description.split(w, -1).length - 1).sum }
        val top = counts.map(_._2).max
        counts.find(_._1 == a.category).get._2 == top && counts.count(_._2 == top) == 1
      } && shorts.filter(_.category == "unknown").forall(a => Gen.lexiconFree(a.description))
    }
    check("long articles are 2000-5000 characters") {
      (0L until 200).map(g.longText).forall(t => t.length >= 2000 && t.length <= 5100)
    }
    check("planted duplicate share: ~10% exact copies, ~10% edited copies") {
      val in = (0L until 4000).map(i => g.incoming(i, 1000, 1000))
      val exact = in.count(_.exact)
      val edited = in.count(p => p.source.isDefined && !p.exact)
      exact > 320 && exact < 480 && edited > 320 && edited < 480 &&
        in.filter(_.exact).forall(p => p.text == g.mediumText(p.source.get)) &&
        in.filter(p => p.source.isDefined && !p.exact).forall { p =>
          val a = p.text.split(" "); val b = g.mediumText(p.source.get).split(" ")
          val d = a.zip(b).count { case (x, y) => x != y }
          a.length == b.length && d >= 1 && d <= 2
        }
    }

    check("percentile: inclusive interpolation, as statistics.quantiles") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      close(Stats.percentile(xs, 25), 1.75) && close(Stats.median(xs), 2.5) &&
        close(Stats.percentile(xs, 75), 3.25) && close(Stats.percentile(xs, 0), 1.0) &&
        close(Stats.percentile(xs, 100), 4.0) && close(Stats.median(Seq(7.0)), 7.0) &&
        close(Stats.percentile((1 to 101).map(_.toDouble), 99), 100.0)
    }
    check("self time: whole call minus its replayed children") {
      close(Stats.replaySelf(100.0, Seq(30.0, 20.0)), 50.0) &&
        close(Stats.replaySelf(100.0, Nil), 100.0) &&
        close(Stats.replaySelf(2.5, Seq(0.5, 0.5, 0.5)), 1.0)
    }
    check("open loop: due times, lateness, latency from due time, backlog") {
      val s = Stats.Schedule(t0 = 1000, intervalNs = 100, perTick = 10, ticks = 5)
      s.due(3) == 1300 && s.tickOf(25) == 2 && s.dueOfArticle(25) == 1200 && s.articles == 50 &&
        Stats.lateness(s, Seq(1000L, 1105L, 1250L, 1300L, 1400L)) == Seq(0L, 5L, 50L, 0L, 0L) &&
        Stats.latency(s, 25, 1500) == 300 &&
        Stats.backlogMax(Seq(1000L -> 10L, 1100L -> 10L, 1200L -> 10L),
          Seq(1150L -> 15L, 1250L -> 15L)) == 20 &&
        Stats.backlogMax(Seq(1000L -> 10L, 1100L -> 10L), Seq(1100L -> 10L)) == 10
    }

    println(if (failures.isEmpty) "self-tests passed" else s"${failures.length} self-test(s) failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
