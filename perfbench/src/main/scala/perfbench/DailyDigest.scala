package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.sys.process._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.model.Tables
import graft.ops.NewsPipeline
import graft.sources.KafkaIO

/** `daily_digest`: closed loop, one caller, repeating the `n05_digest`
  * query over one generated day of long articles stored as
  * `documents.parquet`. Every digest is compared with the same query's
  * oracle SQL run in DuckDB over the same file. */
object DailyDigest extends Workload {
  val Articles = 2000
  val Query = "n05_digest"

  def writeDay(spark: SparkSession, gen: Gen, n: Int, dir: File): Unit = {
    import spark.implicits._
    val g = gen
    spark.range(0, n, 1, 4).as[Long]
      .map(id => (id, g.longText(id), "en", s"src${id % 16}"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
  }

  /** Runs the query's oracle SQL in DuckDB over `dir`; rows in category order. */
  def oracle(ctx: Ctx, dir: File): Seq[(String, String, String)] = {
    val sql = new File(ctx.dir, "oracle.sql")
    val out = new File(ctx.dir, "oracle.json")
    Files.write(sql.toPath, SparkEntry.oracleSql(Query).getBytes(StandardCharsets.UTF_8))
    val code = Seq(ctx.python, ctx.oracleScript, dir.getPath, sql.getPath, out.getPath).!
    require(code == 0, s"oracle exited with $code")
    val rows = new ObjectMapper().readTree(out)
    (0 until rows.size).map { i =>
      val r = rows.get(i)
      (r.get("category").asText, r.get("content").asText, r.get("value").asText)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val day = new File(ctx.dir, "day")
    val (gen, genS) = Workload.seconds {
      val g = new Gen(ctx.seed)
      writeDay(spark, g, Articles, day)
      g
    }
    Workload.phase("oracle")
    val expected = oracle(ctx, day)
    def digest() = SparkEntry.queries(Query)(spark, day.getPath).collect().toSeq
    def matches(rows: Seq[Row]) =
      rows.map(r => (r.getString(0), r.getString(1), r.getString(2))) == expected

    Workload.phase("warm-up")
    val warm = Workload.warmUp(min = 2, max = 6, window = 2, tolerance = 1.10)(digest())
    Workload.phase("measure")
    val (callS, failed) = Workload.closedLoop(ctx.seconds, minCalls = 3)(digest())(matches)
    var attempted = callS.length.toLong
    var failedAll = failed.toLong
    val e2e = Workload.closedLoopMetrics(callS, Articles)

    val layers = ctx.tracer.map { tracer =>
      Workload.phase("traced")
      val (l, tracedFailed, tracedCalls) = traced(ctx, tracer, day, expected, callS)
      attempted += tracedCalls; failedAll += tracedFailed
      l
    }.getOrElse(Map.empty)

    Outcome(attempted, failedAll,
      Map("input_s" -> genS, "warmup_s" -> warm.sum),
      e2e, layers,
      Map("digest_aps" -> e2e("throughput_aps"), "articles" -> Articles,
        "categories" -> expected.length, "calls" -> callS.length,
        "warmup_calls" -> warm.length, "call_ms" -> callS.map(_ * 1e3),
        "category_order" -> gen.categories.toSeq))
  }

  /** Per-layer run: each layer on an input the previous one materialised,
    * forced to the noop sink; the whole query timed as the composite. */
  private def traced(ctx: Ctx, tracer: Tracer, day: File,
      expected: Seq[(String, String, String)], untracedS: Seq[Double]): (Map[String, Double], Int, Int) = {
    val spark = ctx.spark
    val docs = Workload.materialise(Tables.documents(spark, day.getPath))
    val n = docs.count()
    val classified = Workload.materialise(
      NewsPipeline.classify(docs).filter(col("category") =!= "unknown"))
    val digests = Workload.materialise(
      SparkEntry.queries(Query)(spark, day.getPath).select("content", "category"))

    var failed = 0
    val reps = scala.collection.mutable.ArrayBuffer[(Span, Span, Span, Span)]()
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    while (reps.length < 3 || System.nanoTime() < end) {
      val (rows, whole) = tracer.span("newspipeline.digest") {
        SparkEntry.queries(Query)(spark, day.getPath).collect().toSeq
      }
      if (rows.map(r => (r.getString(0), r.getString(1), r.getString(2))) != expected) failed += 1
      val (_, cls) = tracer.span("newspipeline.classify", whole.id)(Workload.noop(NewsPipeline.classify(docs)))
      val (_, sum) = tracer.span("newspipeline.summarize", whole.id)(Workload.noop(NewsPipeline.summarize(classified)))
      val (_, enc) = tracer.span("kafkaio.encode")(Workload.noop(KafkaIO.toDigestRecords(digests)))
      reps += ((whole, cls, sum, enc))
    }
    val counters = tracer.settle()
    val spans = tracer.spans.toSeq
    val wholeMs = reps.map(_._1.ms)
    val layers = Map(
      "newspipeline.classify_ms_per_1k" -> Workload.perThousand(Stats.median(reps.map(_._2.ms)), n),
      "newspipeline.summarize_ms_per_1k" ->
        Workload.perThousand(Stats.median(reps.map(_._3.ms)), classified.count()),
      "newspipeline.digest_self_ms" ->
        Stats.median(reps.map(r => Stats.replaySelf(r._1.ms, Seq(r._2.ms, r._3.ms)))),
      "newspipeline.digest_task_skew" ->
        Stats.median(reps.map(r => counters(r._1.id).firstShuffleStageSkew)),
      "kafkaio.encode_ms" -> Stats.median(reps.map(_._4.ms)),
      "trace.overhead_pct" -> (Stats.median(wholeMs) / (Stats.median(untracedS) * 1e3) - 1) * 100
    ) ++ Seq("newspipeline.digest", "newspipeline.classify", "newspipeline.summarize", "kafkaio.encode")
      .flatMap(Workload.sparkLayer(_, spans, counters))
    (layers, failed, reps.length)
  }
}
