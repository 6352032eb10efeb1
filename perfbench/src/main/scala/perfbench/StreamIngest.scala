package perfbench

import java.io.File
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}

import graft.ops.NewsPipeline
import graft.sources.Ingest
import graft.streaming.StreamOps

/** `stream_ingest`: open loop. One generator thread drops a JSONL file of
  * short articles into a file-source directory every [[TickMs]] ms, at
  * [[RatePerSec]] articles/s, while a drain loop calls
  * `persistClassified(classifyStream(formatArticles(raw)), …)` back to
  * back. Each article's latency runs from its due time to the return of
  * the call that committed its batch. The run ends with one burst of
  * [[BurstArticles]] articles, dropped at once, to measure drain capacity.
  */
object StreamIngest extends Workload {
  val RatePerSec = 1000
  val TickMs = 100
  val BurstArticles = 40000
  val BurstFiles = 40
  val PerTick: Int = RatePerSec * TickMs / 1000
  /** Warm-up calls each drain a file of this many articles, on a stream
    * of their own with ids from [[WarmFirstId]]. */
  val WarmArticles = 1000
  val WarmFirstId = 1000000000L

  /** One persist call: when it ran, rows it committed, its batch ids. */
  final case class Call(start: Long, end: Long, rows: Long, batchIds: Seq[Long], failed: Boolean) {
    def ms: Double = (end - start) / 1e6
  }

  /** A stream's directories: file-source input, parquet output, checkpoint. */
  final class Dirs(root: File) {
    val in = new File(root, "in")
    val out = new File(root, "out")
    val ckpt = new File(root, "ckpt")
    in.mkdirs()
  }

  def persistCall(spark: SparkSession, d: Dirs, tracer: Option[Tracer]): Call = {
    def start() = {
      val raw = spark.readStream.schema(Ingest.articleSchema).json(d.in.getPath)
      StreamOps.persistClassified(StreamOps.classifyStream(Ingest.formatArticles(raw)),
        d.out.getPath, d.ckpt.getPath)
    }
    val t0 = System.nanoTime()
    val q = tracer match {
      case Some(t) =>
        val (q, s) = t.span("streaming.persist") { val q = start(); q.awaitTermination(); q }
        t.adopt(s, q.runId.toString)
        q
      case None =>
        val q = start(); q.awaitTermination(); q
    }
    val t1 = System.nanoTime()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    q.exception.foreach(e => System.err.println(s"persist call failed: $e"))
    Call(t0, t1, progress.map(_.numInputRows).sum, progress.map(_.batchId).toSeq,
      q.exception.isDefined)
  }

  /** The JSONL text of articles `ids`. */
  def jsonl(gen: Gen, ids: Seq[Long]): String =
    ids.map(gen.shortArticle(_).jsonLine).mkString("", "\n", "\n")

  /** A burst: when its files were all in place, and the calls that drained it. */
  final case class Burst(at: Long, calls: Seq[Call]) {
    def seconds: Double = (calls.map(_.end).maxOption.getOrElse(at) - at) / 1e9
  }

  /** The open-loop phase, then (optionally) the burst. */
  final case class LoopRun(schedule: Stats.Schedule, writtenAt: Seq[Long], calls: Seq[Call],
      burst: Option[Burst], timedOut: Boolean) {
    def allCalls: Seq[Call] = calls ++ burst.toSeq.flatMap(_.calls)
    def commitOf: Map[Long, Long] = allCalls.flatMap(c => c.batchIds.map(_ -> c.end)).toMap
    def total: Long = schedule.articles + (if (burst.isDefined) BurstArticles else 0)
  }

  def openLoop(spark: SparkSession, gen: Gen, d: Dirs, seconds: Int, burst: Boolean,
      tracer: Option[Tracer]): LoopRun = {
    val ticks = seconds * 1000 / TickMs
    val sched = Stats.Schedule(System.nanoTime() + 20000000L, TickMs * 1000000L, PerTick, ticks)
    val writtenAt = new Array[Long](ticks)
    val written = new AtomicLong(0)
    val genDone = new AtomicBoolean(false)
    var burstFiles = Seq.empty[(String, String)]
    val generator = new Thread(() => {
      try (0 until ticks).foreach { k =>
        val text = jsonl(gen, (k.toLong * PerTick) until ((k + 1).toLong * PerTick))
        val wait = sched.due(k) - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        Workload.writeAtomically(d.in, f"tick-$k%05d.json", text)
        writtenAt(k) = System.nanoTime()
        written.addAndGet(PerTick)
      } finally genDone.set(true)
      // the burst's files, made ahead while the open loop drains
      val per = BurstArticles / BurstFiles
      if (burst) burstFiles = (0 until BurstFiles).map { f =>
        val first = sched.articles + f * per
        f"burst-$f%03d.json" -> jsonl(gen, first until first + per)
      }
    }, "perfbench-generator")
    generator.start()

    val deadline = System.nanoTime() + (seconds + 60) * 1000000000L
    def drain(target: => Long, done: => Boolean): (Seq[Call], Boolean) = {
      val calls = mutable.ArrayBuffer[Call]()
      var committed = 0L
      while (!(done && committed >= target) && System.nanoTime() < deadline) {
        if (committed >= written.get) LockSupport.parkNanos(2000000L)
        else {
          val c = persistCall(spark, d, tracer)
          committed += c.rows
          calls += c
        }
      }
      (calls.toSeq, System.nanoTime() >= deadline)
    }
    val (calls, timedOut) = drain(sched.articles, genDone.get)
    generator.join()
    if (!burst || timedOut) LoopRun(sched, writtenAt.toSeq, calls, None, timedOut)
    else {
      Workload.phase("burst")
      burstFiles.foreach { case (name, text) => Workload.writeAtomically(d.in, name, text) }
      val at = System.nanoTime()
      written.set(BurstArticles)
      val (bCalls, bTimedOut) = drain(BurstArticles, true)
      LoopRun(sched, writtenAt.toSeq, calls, Some(Burst(at, bCalls)), bTimedOut)
    }
  }

  /** Persisted (article id, batch id, category) rows of a stream. */
  def persisted(spark: SparkSession, d: Dirs): DataFrame =
    spark.read.parquet(d.out.getPath)
      .select(regexp_extract(col("message"), Gen.IdPattern, 1).cast("long").as("id"),
        col("batch_id"), col("category"))

  /** Checks a finished run: every generated article persisted exactly once,
    * and per-category counts equal a batch classification of the same
    * formatted input. Returns (articles checked, articles failed, detail). */
  def check(spark: SparkSession, d: Dirs, run: LoopRun,
      rows: Seq[(Long, Long, String)]): (Long, Long, Map[String, Any]) = {
    val total = run.total
    val seen = mutable.Map[Long, Int]().withDefaultValue(0)
    rows.foreach(r => seen(r._1) += 1)
    val missing = (0L until total).count(id => seen(id) == 0).toLong
    val duplicated = seen.count { case (id, n) => n > 1 || id < 0 || id >= total }.toLong
    val got = rows.groupBy(_._3).map { case (c, rs) => c -> rs.size.toLong }
    val formatted = Ingest.formatArticles(
      spark.read.schema(Ingest.articleSchema).json(d.in.getPath))
    val want = NewsPipeline.classify(formatted.withColumnRenamed("value", "message"), "message")
      .groupBy("category").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val categoryDiff = (got.keySet ++ want.keySet).toSeq
      .map(c => math.abs(got.getOrElse(c, 0L) - want.getOrElse(c, 0L))).sum
    val failedCalls = run.allCalls.count(_.failed)
    val failed = math.min(total, missing + duplicated + categoryDiff + failedCalls)
    (total, failed, Map("missing" -> missing, "duplicated" -> duplicated,
      "category_count_diff" -> categoryDiff, "failed_calls" -> failedCalls,
      "category_counts" -> want))
  }

  /** `rows`: the persisted (article id, batch id, category) rows. */
  final case class LoopStats(latencyMs: Seq[Double], latenessMs: Seq[Double], backlogMax: Long,
      rows: Seq[(Long, Long, String)])

  def loopStats(spark: SparkSession, d: Dirs, run: LoopRun): LoopStats = {
    val rows = persisted(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val batchOf = rows.map(r => r._1 -> r._2).toMap
    val commitOf = run.commitOf
    val lat = (0L until run.schedule.articles).flatMap { a =>
      batchOf.get(a).flatMap(commitOf.get).map(Stats.latency(run.schedule, a, _) / 1e6)
    }
    val late = Stats.lateness(run.schedule, run.writtenAt).map(_ / 1e6)
    val backlog = Stats.backlogMax(run.writtenAt.map(_ -> PerTick.toLong), run.calls.map(c => c.end -> c.rows))
    LoopStats(lat, late, backlog, rows)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (gen, genS) = Workload.seconds(new Gen(ctx.seed))

    Workload.phase("warm-up")
    // warm-up on a stream of its own, until the per-call time settles
    val warmDirs = new Dirs(new File(ctx.dir, "warm"))
    var warmFile = 0
    val (warmCalls, warmS) = Workload.seconds {
      Workload.warmUp(min = 10, max = 14, window = 3, tolerance = 1.15) {
        val first = WarmFirstId + warmFile.toLong * WarmArticles
        Workload.writeAtomically(warmDirs.in, s"warm-$warmFile.json",
          jsonl(gen, first until first + WarmArticles))
        warmFile += 1
        persistCall(spark, warmDirs, None)
      }
    }

    Workload.phase("open loop")
    val dirs = new Dirs(new File(ctx.dir, "run"))
    val run = openLoop(spark, gen, dirs, ctx.seconds, burst = true, None)
    Workload.phase("checks")
    val st = loopStats(spark, dirs, run)
    Workload.phase("checks: classify")
    val (attempted0, failed0, detail) = check(spark, dirs, run, st.rows)
    val drainAps = BurstArticles / math.max(run.burst.map(_.seconds).getOrElse(0.0), 1e-9)
    val e2e = Map(
      "latency_p50_ms" -> Stats.median(st.latencyMs),
      "latency_tail_ms" -> Stats.percentile(st.latencyMs, 99),
      "throughput_aps" -> drainAps)
    var attempted = attempted0
    var failed = failed0

    val layers = ctx.tracer.map { tracer =>
      Workload.phase("traced open loop")
      val tDirs = new Dirs(new File(ctx.dir, "traced"))
      val tRun = openLoop(spark, gen, tDirs, ctx.seconds, burst = false, Some(tracer))
      val tSt = loopStats(spark, tDirs, tRun)
      val (a, f, _) = check(spark, tDirs, tRun, tSt.rows)
      attempted += a; failed += f
      traced(spark, tracer, tDirs, tRun, tSt, Stats.median(st.latencyMs))
    }.getOrElse(Map.empty)

    Outcome(attempted, failed,
      Map("input_s" -> genS, "warmup_s" -> warmS),
      e2e, layers,
      Map("ingest_latency_p50_ms" -> e2e("latency_p50_ms"),
        "ingest_latency_p99_ms" -> e2e("latency_tail_ms"),
        "ingest_drain_aps" -> e2e("throughput_aps"),
        "rate_aps" -> RatePerSec, "articles" -> run.schedule.articles,
        "burst_articles" -> BurstArticles,
        "burst_calls" -> run.burst.map(_.calls.length).getOrElse(0),
        "calls" -> run.calls.length, "call_ms" -> run.calls.map(_.ms),
        "call_rows" -> run.calls.map(_.rows), "warmup_calls" -> warmCalls.length,
        "warmup_call_ms" -> warmCalls.map(_ * 1e3),
        "gen.lateness_ms_p99" -> Stats.percentile(st.latenessMs, 99),
        "gen.backlog_max_articles" -> st.backlogMax,
        "timed_out" -> run.timedOut) ++ detail)
  }

  /** Per-layer numbers of the traced open loop: the persist calls were
    * spans; format and classify are replayed on the run's materialised
    * input, each forced to the noop sink. */
  private def traced(spark: SparkSession, tracer: Tracer, d: Dirs, run: LoopRun, st: LoopStats,
      untracedP50: Double): Map[String, Double] = {
    val raw = Workload.materialise(spark.read.schema(Ingest.articleSchema).json(d.in.getPath))
    val n = raw.count()
    val formatted = Workload.materialise(Ingest.formatArticles(raw))
    val reps = (1 to 3).map { _ =>
      val (_, f) = tracer.span("sources.format")(Workload.noop(Ingest.formatArticles(raw)))
      val (_, c) = tracer.span("newspipeline.classify")(Workload.noop(StreamOps.classifyStream(formatted)))
      (f.ms, c.ms)
    }
    val counters = tracer.settle()
    val fmt = Workload.perThousand(Stats.median(reps.map(_._1)), n)
    val cls = Workload.perThousand(Stats.median(reps.map(_._2)), n)
    val calls = run.calls.filter(_.rows > 0)
    val callMs = calls.map(_.ms)
    val tick = st.rows.groupBy(_._2).map { case (_, rs) => rs.map(r => run.schedule.tickOf(r._1)).distinct.size }
    Map(
      "sources.format_ms_per_1k" -> fmt,
      "newspipeline.classify_ms_per_1k" -> cls,
      "streaming.persist_call_ms_p50" -> Stats.median(callMs),
      "streaming.persist_call_ms_p99" -> Stats.percentile(callMs, 99),
      "streaming.call_self_ms" ->
        Stats.median(calls.map(c => Stats.replaySelf(c.ms, Seq(fmt * c.rows / 1000, cls * c.rows / 1000)))),
      "streaming.batches" -> calls.map(_.batchIds.size).sum.toDouble,
      "streaming.articles_per_batch" -> calls.map(_.rows).sum.toDouble / math.max(calls.map(_.batchIds.size).sum, 1),
      "streaming.files_per_batch" -> tick.sum.toDouble / math.max(tick.size, 1),
      "streaming.bytes_per_article" -> Workload.dataBytes(d.out).toDouble / math.max(run.schedule.articles, 1L),
      "gen.lateness_ms_p99" -> Stats.percentile(st.latenessMs, 99),
      "gen.backlog_max_articles" -> st.backlogMax.toDouble,
      "trace.overhead_pct" -> (Stats.median(st.latencyMs) / untracedP50 - 1) * 100
    ) ++ Seq("streaming.persist", "sources.format", "newspipeline.classify")
      .flatMap(Workload.sparkLayer(_, tracer.spans.toSeq, counters))
  }
}
