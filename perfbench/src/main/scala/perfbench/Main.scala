package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one run of one workload.
  *
  * {{{
  * perfbench.Main --workload <stream_ingest|daily_digest|dedup_admission>
  *   --seed <n> --seconds <s> --trace <0|1> --dir <scratch dir>
  *   --spans <file> --python <python3> --oracle <oracle.py>
  * }}}
  *
  * Prints a `{"report": …}` line, then the result line: `correct`,
  * `attempted`, `failed`, and the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`), each as {value, unit}.
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "stream_ingest" -> StreamIngest,
    "daily_digest" -> DailyDigest,
    "dedup_admission" -> DedupAdmission)

  /** End-to-end metrics and their units; every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms",
    "throughput_aps" -> "articles/s")

  private val runtime = Seq("tasks" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  /** Per-layer metrics and their units. A workload that bypasses a layer
    * reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.format_ms_per_1k" -> "ms",
    "newspipeline.classify_ms_per_1k" -> "ms",
    "newspipeline.summarize_ms_per_1k" -> "ms",
    "newspipeline.digest_self_ms" -> "ms",
    "newspipeline.digest_task_skew" -> "ratio",
    "kafkaio.encode_ms" -> "ms",
    "streaming.persist_call_ms_p50" -> "ms",
    "streaming.persist_call_ms_p99" -> "ms",
    "streaming.call_self_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.articles_per_batch" -> "count",
    "streaming.files_per_batch" -> "count",
    "streaming.bytes_per_article" -> "bytes",
    "functions.simhash_ms_per_1k" -> "ms",
    "dedup.join_self_ms" -> "ms",
    "dedup.candidates_per_article" -> "count",
    "dedup.verified_ratio" -> "ratio",
    "gen.lateness_ms_p99" -> "ms",
    "gen.backlog_max_articles" -> "count",
    "trace.overhead_pct" -> "%") ++
    Seq("sources.format", "newspipeline.classify", "newspipeline.summarize",
      "newspipeline.digest", "kafkaio.encode", "streaming.persist",
      "functions.simhash", "dedup.admission")
      .flatMap(span => runtime.map { case (m, u) => s"$span.$m" -> u })

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; one of ${Workloads.keys.mkString(", ")}"))
    val dir = new File(opt("dir"))
    dir.mkdirs()

    // the engine's session settings, with every directory inside `dir`
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    Workload.phase("session ready")
    val traced = opt("trace") == "1"
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, dir, tracer,
      opt("python"), opt("oracle"))
    val out = try workload.run(ctx) finally {
      tracer.foreach { t =>
        t.close()
        t.write(new File(opt("spans")), t.settle(timeoutMs = 2000))
      }
      Workload.phase("stop")
      spark.stop()
    }

    Workload.phase("done")
    val setupS = sessionS + out.setupParts.values.sum
    val metrics =
      if (traced) PerLayer.map { case (m, u) => m -> (out.layers.getOrElse(m, 0.0), u) }
      else EndToEnd.map { case (m, u) => m -> ((if (m == "setup_s") setupS else out.e2e(m)), u) }
    val errorRate = out.failed.toDouble / math.max(out.attempted, 1L)
    println(Json.obj("report" -> (Map[String, Any](
      "workload" -> opt("workload"), "seed" -> ctx.seed, "trace" -> traced,
      "setup_s" -> setupS, "session_s" -> sessionS, "error_rate" -> errorRate) ++
      out.setupParts ++ out.report ++ out.e2e ++ (if (traced) out.layers else Map.empty))))
    println(Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> math.max(out.attempted, 1L),
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (m, (v, u)) => m -> Map("value" -> v, "unit" -> u) }.toMap))
  }
}
