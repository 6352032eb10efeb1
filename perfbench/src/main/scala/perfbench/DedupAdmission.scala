package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{array, col, explode, expr, lit, shiftrightunsigned, struct}

import graft.ops.Dedup

/** `dedup_admission`: closed loop, one caller, repeating
  * `Dedup.nearDupAdmission(incoming, corpus)` over generated parquet.
  * A tenth of the incoming articles are exact copies of corpus articles
  * and a tenth are copies with 1–2 words edited; every exact copy must
  * come back matched at Hamming 0 to its source. */
object DedupAdmission extends Workload {
  val Corpus = 8000
  val Incoming = 2000

  def writeInputs(spark: SparkSession, gen: Gen, dir: File): Unit = {
    import spark.implicits._
    val g = gen
    spark.range(0, Corpus, 1, 4).as[Long].map(id => (id, g.mediumText(id)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(new File(dir, "corpus.parquet").getPath)
    spark.range(0, Incoming, 1, 4).as[Long]
      .map { i => val a = g.incoming(i, Corpus, Corpus); (a.id, a.text) }
      .toDF("doc_id", "text").write.mode("overwrite").parquet(new File(dir, "incoming.parquet").getPath)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = new File(ctx.dir, "dedup")
    val (gen, genS) = Workload.seconds {
      val g = new Gen(ctx.seed)
      writeInputs(spark, g, dir)
      g
    }
    val planted = (0L until Incoming).map(i => gen.incoming(i, Corpus, Corpus))
    val exact = planted.filter(_.exact).map(p => p.id -> p.source.get).toMap
    val edited = planted.filter(p => p.source.isDefined && !p.exact).map(p => p.id -> p.source.get).toMap
    def incoming = spark.read.parquet(new File(dir, "incoming.parquet").getPath)
    def corpus = spark.read.parquet(new File(dir, "corpus.parquet").getPath)
    def admit(in: DataFrame, co: DataFrame): (DataFrame, Map[Long, (Long, Long)]) = {
      val df = Dedup.nearDupAdmission(in, co)
      (df, df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap)
    }
    /** Every planted exact copy is matched at Hamming 0 to its source. */
    def exactCopiesFound(m: Map[Long, (Long, Long)]) =
      exact.forall { case (id, src) => m.get(id).contains((0L, src)) }

    Workload.phase("warm-up")
    val warm = Workload.warmUp(min = 2, max = 6, window = 2, tolerance = 1.10)(admit(incoming, corpus))
    var lastMatches = Map.empty[Long, (Long, Long)]
    Workload.phase("measure")
    val (callS, failed) = Workload.closedLoop(ctx.seconds, minCalls = 3)(admit(incoming, corpus)._2) { m =>
      lastMatches = m
      exactCopiesFound(m)
    }
    var attempted = callS.length.toLong
    var failedAll = failed.toLong
    val e2e = Workload.closedLoopMetrics(callS, Incoming)

    val layers = ctx.tracer.map { tracer =>
      Workload.phase("traced")
      val in = Workload.materialise(incoming)
      val co = Workload.materialise(corpus)
      val candidates = blockKeyCandidates(in, co)
      val reps = scala.collection.mutable.ArrayBuffer[(Span, Span, Long)]()
      val end = System.nanoTime() + ctx.seconds * 1000000000L
      while (reps.length < 3 || System.nanoTime() < end) {
        val ((df, m), whole) = tracer.span("dedup.admission")(admit(incoming, corpus))
        if (!exactCopiesFound(m)) failedAll += 1
        attempted += 1
        val (_, fp) = tracer.span("functions.simhash", whole.id) {
          Workload.noop(in.union(co).select(expr(simhashExpr(spark))))
        }
        reps += ((whole, fp, verifiedRows(df.queryExecution.executedPlan)))
      }
      val counters = tracer.settle()
      val spans = tracer.spans.toSeq
      Map(
        "functions.simhash_ms_per_1k" ->
          Workload.perThousand(Stats.median(reps.map(_._2.ms)), Corpus + Incoming),
        "dedup.join_self_ms" -> Stats.median(reps.map(r => Stats.replaySelf(r._1.ms, Seq(r._2.ms)))),
        "dedup.candidates_per_article" -> candidates.toDouble / Incoming,
        "dedup.verified_ratio" -> reps.last._3.toDouble / math.max(candidates, 1L),
        "trace.overhead_pct" -> (Stats.median(reps.map(_._1.ms)) / (Stats.median(callS) * 1e3) - 1) * 100
      ) ++ Seq("dedup.admission", "functions.simhash").flatMap(Workload.sparkLayer(_, spans, counters))
    }.getOrElse(Map.empty)

    val editedFound = edited.count { case (id, src) => lastMatches.get(id).exists(_._2 == src) }
    Outcome(attempted, failedAll,
      Map("input_s" -> genS, "warmup_s" -> warm.sum),
      e2e, layers,
      Map("admission_aps" -> e2e("throughput_aps"), "corpus" -> Corpus, "incoming" -> Incoming,
        "exact_copies" -> exact.size, "edited_copies" -> edited.size,
        "edited_copies_found" -> editedFound, "admitted_as_dup" -> lastMatches.size,
        "calls" -> callS.length, "warmup_calls" -> warm.length, "call_ms" -> callS.map(_ * 1e3)))
  }

  /** The fingerprint expression `nearDupAdmission` applies, in the hash
    * family the session selects. */
  def simhashExpr(spark: SparkSession): String = {
    graft.functions.GraftFunctions.register(spark)
    if (spark.conf.get("spark.graft.fasthash", "false").toBoolean) "simhash64(split(text, ' '))"
    else "simhash64(split(text, ' '), 'md5')"
  }

  /** Candidate rows of the admission join: (incoming, corpus, block)
    * triples that share a 16-bit block key of their fingerprints (Manku's
    * four disjoint blocks, the keying `nearDupAdmission` documents).
    * Counted by the benchmark, outside any span. */
  def blockKeyCandidates(in: DataFrame, co: DataFrame): Long = {
    val spark = in.sparkSession
    def keys(df: DataFrame) = df.select(expr(simhashExpr(spark)).as("h"))
      .select(explode(array((0 until 4).map(b => struct(lit(b).as("blk"),
        shiftrightunsigned(col("h"), b * 16).bitwiseAND(lit(65535L)).as("key"))): _*)).as("k"))
      .select("k.blk", "k.key")
    keys(in).join(keys(co), Seq("blk", "key")).count()
  }

  /** Rows that pass the Hamming ≤ 3 verifier, from the executed plan's SQL
    * metrics: the filter above the block-key join, or the join itself when
    * the optimizer folded the filter into the join condition. */
  def verifiedRows(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val all = nodes(plan)
    val filters = all.collect { case f: FilterExec if nodes(f).exists(_.isInstanceOf[BaseJoinExec]) => f }
    if (filters.nonEmpty) filters.map(rows).sum
    else all.collect { case j: BaseJoinExec => j }.map(rows).sum
  }
}
