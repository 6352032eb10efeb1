package perfbench

/** Order statistics, self-time and open-loop accounting used by the
  * benchmark. Pure functions, pinned by [[SelfTest]]. */
object Stats {

  /** Percentile `p` (0–100) by linear interpolation between closest ranks
    * (the numpy/`statistics` "inclusive" rule): rank p/100·(n−1). */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50)

  /** Self time of a composite call whose child layers were replayed on
    * their own, outside the call, on the same inputs: whole − Σ children.
    * (The children cannot be timed inside the call: Spark fuses them into
    * the same generated code and tasks.) */
  def replaySelf(wholeMs: Double, childrenMs: Seq[Double]): Double =
    wholeMs - childrenMs.sum

  /** Open-loop schedule: tick k is due at t0 + k·interval and carries
    * articles [k·perTick, (k+1)·perTick). */
  final case class Schedule(t0: Long, intervalNs: Long, perTick: Int, ticks: Int) {
    def due(tick: Int): Long = t0 + tick.toLong * intervalNs
    def tickOf(article: Long): Int = (article / perTick).toInt
    def dueOfArticle(article: Long): Long = due(tickOf(article))
    def articles: Long = ticks.toLong * perTick
  }

  /** How late each tick's write was, against its due time. */
  def lateness(s: Schedule, writtenAt: Seq[Long]): Seq[Long] =
    writtenAt.zipWithIndex.map { case (w, k) => w - s.due(k) }

  /** Latency of a scheduled article committed at `commitAt`: measured from
    * its due time, never its actual write time, so a generator stall
    * shows as latency. */
  def latency(s: Schedule, article: Long, commitAt: Long): Long =
    commitAt - s.dueOfArticle(article)

  /** Largest number of articles written but not yet committed, given
    * (time, +n) write events and (time, −n) commit events. At equal
    * times commits apply first. */
  def backlogMax(writes: Seq[(Long, Long)], commits: Seq[(Long, Long)]): Long = {
    val events = commits.map { case (t, n) => (t, 0, -n) } ++
      writes.map { case (t, n) => (t, 1, n) }
    var cur = 0L
    var max = 0L
    events.sortBy(e => (e._1, e._2)).foreach { e => cur += e._3; max = math.max(max, cur) }
    max
  }
}
