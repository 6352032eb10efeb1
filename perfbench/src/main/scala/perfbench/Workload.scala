package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload run needs: the session, its seed and duration, a
  * scratch directory of its own, and the tracer in a traced run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, dir: File,
    tracer: Option[Tracer], python: String, oracleScript: String)

/** One run's result. `setupParts` are the set-up phases in seconds;
  * `e2e` and `layers` are metric name → value; `report` is printed as is. */
final case class Outcome(attempted: Long, failed: Long, setupParts: Map[String, Double],
    e2e: Map[String, Double], layers: Map[String, Double], report: Map[String, Any])

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Workload {
  /** Logs a phase boundary to stderr, with seconds since the JVM started. */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%7.2f s  $name")
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Repeats `call` until the last `window` times agree within `tolerance`
    * (max/min), at least `min` and at most `max` times. Returns the times. */
  def warmUp(min: Int, max: Int, window: Int, tolerance: Double)(call: => Unit): Seq[Double] = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    def settled = ts.length >= min && {
      val last = ts.takeRight(window)
      last.max / last.min <= tolerance
    }
    while (ts.length < max && !settled) ts += seconds(call)._2
    ts.toSeq
  }

  /** Materialises the input of a replayed layer. A checkpoint, unlike a
    * cache, is not substituted into other queries that share its plan, so
    * the composite calls still read and compute everything themselves. */
  def materialise(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Forces a frame through the `noop` sink: all of its work, no output. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeAtomically(dir: File, name: String, text: String): Unit = {
    val tmp = new File(dir, s".$name.tmp") // hidden: the file source skips it
    Files.write(tmp.toPath, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Bytes of the data files under `f` (Spark's `_`/`.` metadata excluded). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataBytes).sum
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
    else f.length()

  def perThousand(ms: Double, items: Long): Double = ms * 1000.0 / math.max(items, 1L)

  /** Spark counters of span `name`, per call, as per-layer metrics. */
  def sparkLayer(name: String, spans: Seq[Span], counters: Map[Int, Counters]): Map[String, Double] = {
    val ks = spans.filter(_.name == name).map(s => counters.getOrElse(s.id, new Counters))
    val n = math.max(ks.length, 1).toDouble
    Map(
      s"$name.tasks" -> ks.map(_.tasks).sum / n,
      s"$name.task_cpu_s" -> ks.map(_.cpuNs).sum / 1e9 / n,
      s"$name.gc_s" -> ks.map(_.gcMs).sum / 1e3 / n,
      s"$name.shuffle_read_mb" -> ks.map(_.shuffleReadBytes).sum / 1e6 / n,
      s"$name.shuffle_write_mb" -> ks.map(_.shuffleWriteBytes).sum / 1e6 / n,
      s"$name.spill_mb" -> ks.map(_.spillBytes).sum / 1e6 / n)
  }

  /** Closed-loop end-to-end metrics from per-call times in seconds. */
  def closedLoopMetrics(callS: Seq[Double], articlesPerCall: Long): Map[String, Double] = Map(
    "latency_p50_ms" -> Stats.median(callS) * 1e3,
    "latency_tail_ms" -> callS.max * 1e3,
    "throughput_aps" -> articlesPerCall / Stats.median(callS))

  /** Runs `call` back to back for `seconds` (at least `minCalls` times);
    * `check` judges each output outside the timed part. Returns the call
    * times in seconds and the number of calls that threw or failed. */
  def closedLoop[T](seconds: Int, minCalls: Int)(call: => T)(check: T => Boolean): (Seq[Double], Int) = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = 0
    val end = System.nanoTime() + seconds * 1000000000L
    while (ts.length < minCalls || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      val ok = try { val out = call; ts += (System.nanoTime() - t0) / 1e9; check(out) }
        catch { case e: Exception => ts += (System.nanoTime() - t0) / 1e9; System.err.println(s"call failed: $e"); false }
      if (!ok) failed += 1
    }
    (ts.toSeq, failed)
  }
}
