package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of one job group, summed over its tasks. */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id → (shuffle bytes read, task run times in ms), for skew. */
  val stages = mutable.TreeMap[Int, (Long, mutable.ArrayBuffer[Double])]()
  var jobsEnded = 0

  def add(o: Counters): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    o.stages.foreach { case (id, (b, ts)) =>
      val (b0, ts0) = stages.getOrElseUpdate(id, (0L, mutable.ArrayBuffer[Double]()))
      stages(id) = (b0 + b, ts0 ++= ts)
    }
  }

  /** max / median task time of the first stage that reads shuffle data
    * (the post-exchange aggregation); 1.0 when there is no such stage. */
  def firstShuffleStageSkew: Double =
    stages.collectFirst { case (_, (b, ts)) if b > 0 && ts.nonEmpty => ts }
      .map(ts => ts.max / math.max(Stats.median(ts.toSeq), 1e-9)).getOrElse(1.0)
}

/** A span: one timed call into a layer. `parent` is −1 for roots; a
  * replayed child names the composite call it was replayed for. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans kept in memory and written out at the end, plus a SparkListener
  * that keys task counters by job group. Each span runs its body under a
  * job group of its own; a streaming query's jobs run under the query's
  * run id instead, which [[adopt]] folds into the span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  val spans = mutable.ArrayBuffer[Span]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (g != null) {
        jobGroup.put(e.jobId, g)
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach(g => c(g).synchronized { c(g).jobsEnded += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val k = c(g)
        k.synchronized {
          k.tasks += 1
          k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          k.shuffleReadBytes += read
          k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val (b, ts) = k.stages.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer[Double]()))
          ts += m.executorRunTime.toDouble
          k.stages(e.stageId) = (b + read, ts)
        }
      }
    }
  }
  sc.addSparkListener(listener)

  private def c(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  private def groupName(id: Int) = s"perfbench-span-$id"

  /** Runs `body` as span `name`; returns its value and the span. */
  def span[T](name: String, parent: Int = -1)(body: => T): (T, Span) = {
    val id = spans.length
    spans += null // reserve the id: nested spans get later ids
    sc.setJobGroup(groupName(id), name)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    val s = Span(id, parent, name, t0, t1)
    spans(id) = s
    (out, s)
  }

  /** Counts the jobs of a streaming query run (`runId`) towards span `s`. */
  def adopt(s: Span, runId: String): Unit = adopted += (s.id -> runId)
  private val adopted = mutable.ArrayBuffer[(Int, String)]()

  /** Waits until the listener has seen every job of the traced groups end,
    * then returns each span's counters. */
  def settle(timeoutMs: Long = 20000): Map[Int, Counters] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def groups(id: Int): Seq[String] =
      groupName(id) +: adopted.collect { case (`id`, g) => g }.toSeq
    def expected(g: String) = sc.statusTracker.getJobIdsForGroup(g).length
    def done = spans.forall(s => groups(s.id).forall(g =>
      Option(byGroup.get(g)).map(o => o.synchronized(o.jobsEnded)).getOrElse(0) >= expected(g)))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    spans.map { s =>
      val k = new Counters
      groups(s.id).foreach(g => Option(byGroup.get(g)).foreach(o => o.synchronized(k.add(o))))
      s.id -> k
    }.toMap
  }

  def close(): Unit = sc.removeSparkListener(listener)

  /** One JSON object per span, in start order. */
  def write(file: File, counters: Map[Int, Counters]): Unit = {
    file.getParentFile.mkdirs()
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      val k = counters.getOrElse(s.id, new Counters)
      val fields = Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6, "ms" -> s.ms,
        "tasks" -> k.tasks, "task_cpu_s" -> k.cpuNs / 1e9, "gc_s" -> k.gcMs / 1e3,
        "shuffle_read_mb" -> k.shuffleReadBytes / 1e6,
        "shuffle_write_mb" -> k.shuffleWriteBytes / 1e6,
        "spill_mb" -> k.spillBytes / 1e6)
      w.println(Json.obj(fields: _*))
    } finally w.close()
  }
}

/** Minimal JSON writer for flat result objects. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => Gen.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => Gen.quote(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${Gen.quote(k)}:${value(v)}" }.mkString("{", ",", "}")
}
