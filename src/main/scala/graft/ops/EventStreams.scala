package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Event-time windowing operators (SURVEY.md §2.8 [EXT]) in their
  * batch-checkable form: `window`/`session_window` aggregations are
  * identical logical operators in batch and streaming — the streaming
  * variants (with watermarks, `MemoryStream`, `foreachBatch` persist) are
  * built in [[graft.streaming.StreamOps]] and exercised by the spec; the
  * queries here pin the windowing arithmetic against the DuckDB oracle.
  *
  * `events.ts` storage has drifted across testdata generations —
  * TIMESTAMP(NANOS) read as raw longs (`GraftSession` keeps `nanosAsLong`
  * so those files stay readable) vs native parquet `timestamp[us]`
  * (arriving as TIMESTAMP_NTZ under `inferTimestampNTZ`). Every consumer
  * therefore goes through the dtype-adaptive accessors below instead of
  * assuming a physical type; both paths land on the SAME canonical
  * micros-precision TIMESTAMP_NTZ (nanos truncate by integer division,
  * exactly DuckDB's ns→µs cast), so downstream arithmetic and oracles are
  * storage-independent. `EventTimeSpec` pins both dtypes so a testdata
  * regeneration cannot silently re-break the catalog again.
  */
object EventStreams {

  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

  /** Event time as TIMESTAMP_NTZ (micros precision), whatever `ts` was
    * stored as. Raw-nanos longs truncate to micros ( = DuckDB's cast);
    * tz-aware timestamps reinterpret via the UTC session zone. */
  def eventTs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
    case TimestampNTZType => col("ts")
    case TimestampType => col("ts").cast(TimestampNTZType)
    case other => throw new IllegalArgumentException(
      s"unsupported events.ts dtype: $other")
  }

  /** SQL fragment for event time as epoch-micros BIGINT — the form the
    * packed-key / bucket arithmetic needs. Kept as a fragment so callers
    * can splice it into larger codegen'd expressions (q37's DECIMAL key).
    * The NTZ→TIMESTAMP cast reads through the UTC session zone, so the
    * value equals DuckDB's `epoch_us(ts)`. */
  def eventMicrosSql(df: DataFrame): String = df.schema("ts").dataType match {
    case LongType => "(ts DIV 1000)"
    case TimestampNTZType | TimestampType => "unix_micros(CAST(ts AS TIMESTAMP))"
    case other => throw new IllegalArgumentException(
      s"unsupported events.ts dtype: $other")
  }

  /** Event time as epoch-micros BIGINT (see [[eventMicrosSql]]). */
  def eventMicros(df: DataFrame): Column = expr(eventMicrosSql(df))

  /** The total, unique per-event ordering key `micros·10¹⁸ + event_id` as
    * DECIMAL(38,0) — 34 digits, exact; HUGEINT in the oracle. Fixed-width
    * decimal keeps min_by/max_by hash-agg-mutable (q37's plan audit). */
  def packedTsKey(df: DataFrame): Column =
    expr(s"CAST(${eventMicrosSql(df)} AS DECIMAL(38,0))" +
      " * 1000000000000000000 + event_id")

  /** A literal comparable directly against the STORED `ts` column —
    * matching the physical dtype so the predicate reaches the parquet
    * scan as a pushed filter (wrapping `ts` in a conversion would block
    * pushdown). `isoUtc` is an ISO-8601 UTC instant. */
  def tsLiteral(df: DataFrame, isoUtc: String): Column = {
    val inst = java.time.Instant.parse(isoUtc)
    df.schema("ts").dataType match {
      case LongType => lit(inst.getEpochSecond * 1000000000L + inst.getNano)
      case dt: DataType =>
        lit(inst.toString.stripSuffix("Z").replace("T", " ")).cast(dt)
    }
  }

  private def events(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(s, d)
    raw.withColumn("ts", eventTs(raw))
  }

  // --------------------------------------------------------------- st01
  /** Tumbling 1-hour windows: count + exact value sum per (window, type).
    * In streaming this is the canonical watermarked aggregation; state per
    * open window only. */
  val st01 = Q("st01_tumbling_window",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("window_start", "event_type")
  }

  // --------------------------------------------------------------- st02
  /** Sliding windows (2 h length, 1 h slide): each event lands in exactly
    * two windows; the oracle materialises the same two starts per event. */
  val st02 = Q("st02_sliding_window",
    """WITH cand AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' AS ws,
      |         event_type FROM events)
      |SELECT ws AS window_start, event_type, count(*) AS n
      |FROM cand GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  // --------------------------------------------------------------- st03
  /** Session windows, 30-minute gap, per user: Spark's `session_window`
    * against a gaps-and-islands oracle (lag + cumulative island id).
    * Session start = first event; sessions close when the gap exceeds
    * 30 min — the exact semantics `session_window` gives a stream. */
  val st03 = Q("st03_session_window",
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL '30 minutes' OR
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM islands GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  // --------------------------------------------------------------- st04
  /** SCD2 dimension build from an event log: collapse each user's
    * consecutive runs of the same event_type into validity intervals
    * [valid_from, valid_to) — gaps-and-islands (change flag → running
    * island id → min/max + lead) entirely in one window cascade over a
    * single shuffle on user_id. The classic "latest attribute history"
    * maintenance pass a warehouse runs over a 100 TB changelog. Open
    * intervals carry NULL valid_to (coalesced to a sentinel for
    * deterministic sorting). */
  val st04 = Q("st04_scd2_intervals",
    """WITH ordered AS (
      |  SELECT user_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |islands AS (
      |  SELECT user_id, event_type, ts,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM ordered),
      |intervals AS (
      |  SELECT user_id, event_type, min(ts) AS valid_from, count(*) AS n_events
      |  FROM islands GROUP BY user_id, event_type, island)
      |SELECT user_id, event_type, valid_from,
      |  coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from),
      |           TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
      |  n_events
      |FROM intervals
      |ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("user_id").orderBy("valid_from")
    events(s, d)
      .withColumn("chg",
        when(not(lag(col("event_type"), 1).over(wOrd) <=> col("event_type")), 1)
          .otherwise(0))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy("user_id", "event_type", "island")
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        coalesce(lead(col("valid_from"), 1).over(wLead),
          lit("9999-12-31 00:00:00").cast(org.apache.spark.sql.types.TimestampNTZType))
          .as("valid_to"),
        col("n_events"))
      .orderBy("user_id", "valid_from")
  }

  // --------------------------------------------------------------- st05
  /** Batch twin of the stream-stream interval join — and not a rewrite:
    * it calls [[graft.streaming.StreamOps.clicksBeforePurchase]] itself
    * on batch Datasets (Catalyst's EliminateEventTimeWatermark erases the
    * watermark nodes in batch, leaving exactly the join the stream runs).
    * Each purchase matches the same user's clicks in the preceding
    * 10 minutes; the oracle is the equivalent DuckDB range self-join, so
    * the interval arithmetic is cross-engine checked, not just
    * spec-pinned. */
  val st05 = Q("st05_interval_join",
    """SELECT p.user_id, p.ts AS purchase_ts, c.ts AS click_ts,
      |  p.value AS purchase_value, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
      |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    graft.streaming.StreamOps.clicksBeforePurchase(side("click"), side("purchase"))
      .select(col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        col("purchase_value"), col("click_value"))
      .orderBy("user_id", "purchase_ts", "click_ts")
  }

  // --------------------------------------------------------------- st06
  /** Batch twin of the LEFT OUTER stream-stream interval join (again the
    * SAME function the stream runs): purchases with no preceding click
    * survive with null click columns. In the stream those null rows only
    * emit after the watermark passes the join window (spec-pinned); the
    * batch twin checks the join semantics themselves cross-engine. */
  val st06 = Q("st06_interval_join_outer",
    """SELECT p.user_id, p.ts AS purchase_ts,
      |  coalesce(c.ts, TIMESTAMP '9999-12-31 00:00:00') AS click_ts,
      |  p.value AS purchase_value,
      |  coalesce(c.value, 0.0) AS click_value,
      |  c.user_id IS NOT NULL AS matched
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
      |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    // null click columns take the st04 open-interval sentinel so every
    // output column stays orderable/comparable (NaT breaks row sorting)
    graft.streaming.StreamOps
      .clicksBeforePurchaseOuter(side("click"), side("purchase"))
      .select(col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        coalesce(col("click_ts").cast("timestamp_ntz"),
          lit("9999-12-31 00:00:00")
            .cast(org.apache.spark.sql.types.TimestampNTZType)).as("click_ts"),
        col("purchase_value"),
        coalesce(col("click_value"), lit(0.0)).as("click_value"),
        col("click_ts").isNotNull.as("matched"))
      .orderBy("user_id", "purchase_ts", "click_ts")
  }

  // --------------------------------------------------------------- st08
  /** Batch twin of the FULL OUTER stream-stream interval join (the SAME
    * function the stream runs): unmatched purchases AND unmatched
    * clicks both survive with the other side nulled. Null timestamps
    * take the st04/st06 open-interval sentinel so rows stay orderable;
    * `has_purchase`/`has_click` make the three row classes explicit. */
  val st08 = Q("st08_interval_join_full",
    """SELECT coalesce(p.user_id, c.user_id) AS user_id,
      |  coalesce(p.ts, TIMESTAMP '9999-12-31 00:00:00') AS purchase_ts,
      |  coalesce(c.ts, TIMESTAMP '9999-12-31 00:00:00') AS click_ts,
      |  coalesce(p.value, 0.0) AS purchase_value,
      |  coalesce(c.value, 0.0) AS click_value,
      |  p.user_id IS NOT NULL AS has_purchase,
      |  c.user_id IS NOT NULL AS has_click
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    val sentinel = lit("9999-12-31 00:00:00")
      .cast(org.apache.spark.sql.types.TimestampNTZType)
    graft.streaming.StreamOps
      .clicksPurchasesFullOuter(side("click"), side("purchase"))
      .select(col("user_id"),
        coalesce(col("purchase_ts").cast("timestamp_ntz"), sentinel)
          .as("purchase_ts"),
        coalesce(col("click_ts").cast("timestamp_ntz"), sentinel)
          .as("click_ts"),
        coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"),
        coalesce(col("click_value"), lit(0.0)).as("click_value"),
        col("purchase_ts").isNotNull.as("has_purchase"),
        col("click_ts").isNotNull.as("has_click"))
      .orderBy("user_id", "purchase_ts", "click_ts", "purchase_value",
        "click_value")
  }

  // --------------------------------------------------------------- st07
  /** Batch twin of the stream–static enrichment join (the SAME
    * [[graft.streaming.StreamOps.enrichEvents]] the stream runs): each
    * event left-joins the broadcast tier dimension; `error` events are
    * deliberately unmapped and surface as `untiered` with weight 0.
    * The weighted value is exact decimal arithmetic in both engines
    * (DECIMAL(18,2) × DECIMAL(4,2)), cast to DOUBLE only at the end.
    * PlanAuditSpec pins the broadcast; StreamingSpec drives the same
    * function from MemoryStream micro-batches. */
  val st07 = Q("st07_enrich_dim",
    """WITH dim(event_type, tier, weight) AS (VALUES
      |  ('click', 'engagement', CAST(1.50 AS DECIMAL(4,2))),
      |  ('view', 'engagement', CAST(0.25 AS DECIMAL(4,2))),
      |  ('purchase', 'revenue', CAST(3.00 AS DECIMAL(4,2))),
      |  ('signup', 'growth', CAST(2.00 AS DECIMAL(4,2))))
      |SELECT e.event_id, e.event_type,
      |  coalesce(d.tier, 'untiered') AS tier,
      |  CAST(CAST(e.value AS DECIMAL(18,2))
      |       * coalesce(d.weight, CAST(0 AS DECIMAL(4,2))) AS DOUBLE)
      |    AS weighted_value
      |FROM events e LEFT JOIN dim d USING (event_type)
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps
      .enrichEvents(Tables.events(s, d), graft.streaming.StreamOps.tierDim(s))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- st09
  /** Batch twin of the CDC changelog apply (the SAME
    * [[graft.streaming.StreamOps.applyChangelog]] `mapGroupsWithState`
    * code path — Spark runs it on batch datasets with whole-group
    * calls): per user, the last event by (ts, event_id) wins;
    * `event_type = 'error'` is the delete op. Ordering compares
    * MICROS-truncated timestamps on both sides (the ns→µs cast), so a
    * sub-microsecond tie cannot order differently cross-engine. The
    * streaming spec covers what batch can't: state carry-over across
    * micro-batches and the stale-event guard. */
  val st09 = Q("st09_cdc_apply",
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |  value, event_type = 'error' AS deleted
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val changes = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.ChangeEvent]
    graft.streaming.StreamOps.applyChangelog(changes)
      .toDF()
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("event_id"), col("value"), col("deleted"))
      .orderBy("user_id")
  }

  // --------------------------------------------------------------- st10
  /** Batch twin of streaming near-dup ADMISSION (the SAME
    * [[Dedup.nearDupAdmission]] the stream runs — StreamingSpec drives
    * it from MemoryStream): incoming docs (a deterministic mutated
    * slice of the corpus: every 5th doc with one appended token, ids
    * shifted past max(doc_id)) are checked against the static corpus
    * fingerprint index; output is each matched doc's best corpus match
    * by (hamming, corpus_id). The oracle recomputes BOTH simhash sets
    * via the shared parameterized CTE and joins all-pairs — the
    * bucketed plan is a pigeonhole superset + exact filter of it, the
    * same d07/d09 equivalence. */
  val st10 = Q("st10_neardup_admission",
    s"""WITH ${Dedup.simhashSqlFor("documents", "")},
       |mdocs AS (
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
       |         text || ' graftnew' AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |${Dedup.simhashSqlFor("mdocs", "m")},
       |cand AS (
       |  SELECT m.doc_id AS new_id, c.doc_id AS corpus_id,
       |         CAST(bit_count(xor(m.h, c.h)) AS BIGINT) AS hamming
       |  FROM mfp m JOIN fp c ON bit_count(xor(m.h, c.h)) <= 3)
       |SELECT new_id, hamming AS best_hamming, corpus_id AS best_match
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY new_id
       |    ORDER BY hamming, corpus_id) AS rn
       |  FROM cand)
       |WHERE rn = 1 ORDER BY new_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select("doc_id", "text")
    val shift = Dedup.copyShift(base)
    val incoming = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + shift).as("doc_id"),
        concat(col("text"), lit(" graftnew")).as("text"))
    Dedup.nearDupAdmission(incoming, base).orderBy("new_id")
  }

  // --------------------------------------------------------------- st11
  /** Trending top-k per tumbling hour — batch twin of
    * [[graft.streaming.StreamOps.trendingTopKStream]], calling the SAME
    * [[graft.streaming.StreamOps.trendingTopK]] ranking stage the
    * streaming foreachBatch sink runs on each finalised window
    * (StreamingSpec pins stream output == this twin on shared events).
    * The rank window is partitioned by window_start, so at 100 TB the
    * shuffle key is the window, never a global ordering. */
  val st11 = Q("st11_trending_topk",
    """WITH counts AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start, event_type, n,
      |  CAST(row_number() OVER (PARTITION BY window_start
      |       ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |FROM counts
      |QUALIFY rank <= 3
      |ORDER BY window_start, rank""".stripMargin) { (s, d) =>
    val counts = events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
    graft.streaming.StreamOps.trendingTopK(counts, 3)
      .orderBy("window_start", "rank")
  }

  // --------------------------------------------------------------- st12
  /** OHLC bars as a STREAMING aggregation — batch twin of
    * [[graft.streaming.StreamOps.ohlcBarsStream]], calling the SAME
    * [[graft.streaming.StreamOps.ohlcBars]] stage (q37 is the pure-batch
    * formulation; this one proves the identical bars emerge from a
    * watermarked append-mode stream — StreamingSpec pins stream output
    * == this twin on shared events). Same packed-integer tie-break and
    * hash-agg shape as q37. */
  val st12 = Q("st12_ohlc_stream_twin",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT)
      |                 * 1000000000000000000 + event_id) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT)
      |                 * 1000000000000000000 + event_id) AS close,
      |  CAST(count(*) AS BIGINT) AS volume
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.ohlcBars(events(s, d))
      .orderBy("window_start", "event_type")
  }

  // --------------------------------------------------------------- st13
  /** Daily distinct actives as a chained-stateful STREAM — batch twin of
    * [[graft.streaming.StreamOps.dailyActivesStream]], calling the SAME
    * [[graft.streaming.StreamOps.dailyActives]] function (watermark
    * erased, the within-watermark dedup optimised to a plain distinct in
    * batch). The streaming form is the layer q38's rolling rollup reads:
    * dedup state carries the per-(user, day) uniqueness, the tumbling
    * count finalises each day in append mode. StreamingSpec pins stream
    * output == this twin on shared events. */
  val st13 = Q("st13_daily_actives",
    """SELECT time_bucket(INTERVAL '1 day', ts) AS day,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    graft.streaming.StreamOps.dailyActives(
      events(s, d).select("user_id", "ts"))
      .orderBy("day")
  }

  // --------------------------------------------------------------- st14
  /** The CMS sketch as a STREAMING aggregation — batch twin of
    * [[graft.streaming.StreamOps.cmsCellsStream]], calling the SAME
    * [[graft.ops.TextAnalysis.cmsCells]] function over the document
    * token stream. Unlike every other streaming aggregate here the
    * state is structurally bounded (depth×width cells, merged by
    * addition) rather than watermark-bounded — the sketch shape that
    * makes a live heavy-hitters dashboard possible without a
    * vocabulary-sized store. Oracle shares t17's cells derivation.
    * StreamingSpec pins stream sketch == this twin on shared tokens. */
  val st14 = Q("st14_cms_stream_twin",
    s"""WITH ${graft.ops.TextAnalysis.cmsCellCtes}
       |SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
       |FROM cells GROUP BY r, bucket
       |ORDER BY r, bucket""".stripMargin) { (s, d) =>
    graft.ops.TextAnalysis.cmsCells(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token")))
      .select(col("r").cast("long").as("r"), col("bucket"),
        col("c").cast("long").as("c"))
      .orderBy("r", "bucket")
  }

  // --------------------------------------------------------------- st15
  /** The HLL distinct-count sketch as a STREAMING aggregation — batch
    * twin of [[graft.streaming.StreamOps.hllRegistersStream]], calling
    * the SAME [[graft.ops.Relational.hllRegisters]] derivation over the
    * event stream's user key. st14's bounded-state story for
    * cardinality: the state is exactly m=256 (reg, max-rho) rows no
    * matter how many users flow — the live distinct-users counter with
    * no user-sized store. Oracle splices q10c's shared register CTEs
    * verbatim. StreamingSpec pins stream sketch == this twin on shared
    * events. */
  val st15 = Q("st15_hll_stream_twin",
    s"""WITH src AS (
       |  SELECT 'user_id' AS colname,
       |    md5('user_id:' || CAST(user_id AS VARCHAR)) AS h FROM events),
       |${graft.ops.Relational.hllRegCtes}
       |SELECT colname, CAST(reg AS INT) AS reg, CAST(rho AS INT) AS rho
       |FROM regs ORDER BY colname, reg""".stripMargin) { (s, d) =>
    graft.ops.Relational.hllRegisters(
      events(s, d).select("user_id"), "user_id")
      .orderBy("colname", "reg")
  }

  // --------------------------------------------------------------- st16
  /** q19c's histogram-quantile sketch STATE over the event stream's
    * value column: one (event_type, 5.00-wide value cell) count row.
    * Completes the mergeable-sketch streaming trio — st14 (frequency,
    * CMS), st15 (cardinality, HLL), st16 (quantiles, fixed-boundary
    * histogram): the state is structurally capped at value-range/width
    * cells per type (~100 here) no matter how many events flow, so the
    * live latency/price percentile dashboard needs no event-sized
    * store, and cells merge by addition (SketchSpec's q19c law) across
    * partitions, triggers, and days alike. Value quantised to cents
    * BEFORE celling (the proven round-to-integer parity regime). Batch
    * twin of [[graft.streaming.StreamOps.valueHistStream]] —
    * StreamingSpec pins stream state == this twin on shared events. */
  private[graft] def valueHistCells(df: DataFrame): DataFrame =
    df.select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), expr("cents DIV 500").as("cell"))
      .agg(count(lit(1)).cast("long").as("c"))

  val st16 = Q("st16_hist_stream_twin",
    """WITH src AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type, cents // 500 AS cell, CAST(count(*) AS BIGINT) AS c
      |FROM src GROUP BY 1, 2
      |ORDER BY event_type, cell""".stripMargin) { (s, d) =>
    valueHistCells(events(s, d)).orderBy("event_type", "cell")
  }

  // --------------------------------------------------------------- st17
  /** SCD2 MERGE — the maintenance pass st04 (initial history build) and
    * q28 (flat last-writer upsert) both stop short of: apply a CHANGE
    * BATCH to a history-keeping dimension. The last full day of the
    * event log plays the change batch (one latest observation per
    * user); the preceding log builds the dimension via st04's
    * gaps-and-islands. Merge semantics are the Kimball type-2 apply:
    * a changed attribute CLOSES the user's open row at the change
    * timestamp and INSERTS a new open row; an unchanged observation
    * touches nothing; a user with no history inserts their first row.
    * Closed history is immutable (never updated, only unioned through).
    *
    * Scale shape: every stage is keyed on user_id — the island windows,
    * the latest-change ranking, and the open-row⋈change joins all share
    * one partitioning (AQE reuses the exchange); the day-cut bound is a
    * 1-row broadcast. The output is the full merged dimension, so the
    * oracle replays initial build + merge end to end. */
  val st17 = Q("st17_scd2_merge",
    """WITH sp AS (SELECT date_trunc('day', max(ts)) AS cut FROM events),
      |hist AS (SELECT e.* FROM events e, sp WHERE e.ts < sp.cut),
      |ordered AS (
      |  SELECT user_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM hist WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |islands AS (
      |  SELECT user_id, event_type, ts,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM ordered),
      |iv AS (
      |  SELECT user_id, event_type, min(ts) AS valid_from
      |  FROM islands GROUP BY user_id, event_type, island),
      |dim AS (
      |  SELECT user_id, event_type, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |      AS valid_to
      |  FROM iv),
      |chg AS (
      |  SELECT user_id, event_type AS new_type, ts AS chg_ts FROM (
      |    SELECT e.user_id, e.event_type, e.ts, row_number() OVER (
      |      PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
      |    FROM events e, sp WHERE e.ts >= sp.cut)
      |  WHERE rn = 1),
      |opened AS (SELECT * FROM dim WHERE valid_to IS NULL),
      |history AS (
      |  SELECT user_id, event_type, valid_from, valid_to
      |  FROM dim WHERE valid_to IS NOT NULL),
      |upd AS (
      |  SELECT o.user_id, o.event_type, o.valid_from,
      |    CASE WHEN c.new_type IS NOT NULL AND c.new_type <> o.event_type
      |         THEN c.chg_ts END AS valid_to
      |  FROM opened o LEFT JOIN chg c ON o.user_id = c.user_id),
      |ins AS (
      |  SELECT c.user_id, c.new_type AS event_type, c.chg_ts AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM chg c LEFT JOIN opened o ON c.user_id = o.user_id
      |  WHERE o.user_id IS NULL OR c.new_type <> o.event_type)
      |SELECT user_id, event_type, valid_from,
      |  coalesce(valid_to, TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
      |  valid_to IS NULL AS is_current
      |FROM (SELECT * FROM history UNION ALL
      |      SELECT * FROM upd UNION ALL SELECT * FROM ins)
      |ORDER BY user_id, valid_from, event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
    val cut = ev.agg(date_trunc("day", max(col("ts"))).as("cut"))
    // №27b: the user_id window chain is CPU-dense (3 windows + island
    // agg) but its ENSURE_REQUIREMENTS exchange carries ~2 MB at bench
    // SFs, so AQE coalesces it to ONE task (measured 2.75 cpu-s, all
    // 1-task stages). Pin the window's own distribution with a
    // non-coalescible exchange — at scale this is the exact exchange
    // the window inserts anyway, so production pays nothing extra.
    val np = s.conf.get("spark.sql.shuffle.partitions").toInt
    val hist = ev.crossJoin(broadcast(cut)).filter(col("ts") < col("cut"))
      .repartition(np, col("user_id"))
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("user_id").orderBy("valid_from")
    val dim = hist
      .withColumn("chg",
        when(not(lag(col("event_type"), 1).over(wOrd) <=> col("event_type")), 1)
          .otherwise(0))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy("user_id", "event_type", "island")
      .agg(min(col("ts")).as("valid_from"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        lead(col("valid_from"), 1).over(wLead).as("valid_to"))
      // the dim subtree feeds history AND opened (which upd/ins both
      // read) — without a barrier the 3-window chain re-runs once per
      // branch of the final union; the checkpoint is users-sized
      .localCheckpoint()
    val wChg = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val chg = ev.crossJoin(broadcast(cut)).filter(col("ts") >= col("cut"))
      .withColumn("rn", row_number().over(wChg)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("new_type"),
        col("ts").as("chg_ts"))
    val opened = dim.filter(col("valid_to").isNull)
    val history = dim.filter(col("valid_to").isNotNull)
    val upd = opened.join(chg, Seq("user_id"), "left")
      .select(col("user_id"), col("event_type"), col("valid_from"),
        when(col("new_type").isNotNull && col("new_type") =!= col("event_type"),
          col("chg_ts")).as("valid_to"))
    val ins = chg.join(opened.select(col("user_id"),
        col("event_type").as("open_type")), Seq("user_id"), "left")
      .filter(col("open_type").isNull || col("new_type") =!= col("open_type"))
      .select(col("user_id"), col("new_type").as("event_type"),
        col("chg_ts").as("valid_from"),
        lit(null).cast(org.apache.spark.sql.types.TimestampNTZType)
          .as("valid_to"))
    history.unionByName(upd).unionByName(ins)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        coalesce(col("valid_to"), lit("9999-12-31 00:00:00")
          .cast(org.apache.spark.sql.types.TimestampNTZType)).as("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_type")
  }

  // --------------------------------------------------------------- st18
  /** Batch twin of the streaming last-touch attribution (the SAME
    * [[graft.streaming.StreamOps.lastTouchAttribution]] function the
    * stream runs — the st05 convention): q49's marketing question
    * answered in the join→aggregation chained-stateful shape. The
    * oracle replays the interval join, the per-purchase lexicographic
    * struct-max (click_ts DESC, click_value DESC — a streaming-legal
    * aggregate where rank is not), and the touch count; `StreamJoinSpec`
    * pins the MemoryStream run equal to this batch result. */
  val st18 = Q("st18_last_touch",
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
      |    c.ts AS click_ts, c.value AS click_value
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts),
      |r AS (
      |  SELECT *, row_number() OVER (
      |      PARTITION BY user_id, purchase_ts, purchase_value
      |      ORDER BY click_ts DESC, click_value DESC) AS rn,
      |    count(*) OVER (
      |      PARTITION BY user_id, purchase_ts, purchase_value) AS n
      |  FROM j)
      |SELECT user_id, purchase_ts, purchase_value,
      |  click_ts AS last_click_ts, click_value AS last_click_value,
      |  CAST(n AS BIGINT) AS n_touches
      |FROM r WHERE rn = 1
      |ORDER BY user_id, purchase_ts""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    graft.streaming.StreamOps
      .lastTouchAttribution(side("click"), side("purchase"))
      .select(col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("purchase_value"),
        col("last_click_ts").cast("timestamp_ntz").as("last_click_ts"),
        col("last_click_value"), col("n_touches"))
      .orderBy("user_id", "purchase_ts")
  }

  // --------------------------------------------------------------- st19
  /** Conversion-window for [[st19]]: each funnel transition must land
    * within this many micros of the previous one (24 h). */
  val FunnelWindowUs = 86400000000L

  /** Funnel stages as an earliest-transition STATE MACHINE with a
    * conversion window — batch twin of
    * [[graft.streaming.StreamOps.funnelStages]] and the sequential-
    * pattern (MATCH_RECOGNIZE-class) semantics q30's first-occurrence
    * funnel cannot express: stage k+1 is reached by the first
    * next-milestone event STRICTLY AFTER the stage-k transition and
    * within [[FunnelWindowUs]] of it — a click preceding the first view
    * does not consume the click slot (a later one still qualifies), and
    * a conversion that takes longer than the window does not count
    * (without the deadline every user of a month-long event stream
    * trivially completes; with it this corpus splits 90/35/25 across
    * stages at sf0.01).
    *
    * The recurrence t₁ = min(view), t₂ = min(click ∈ (t₁, t₁+W]), t₃ =
    * min(purchase ∈ (t₂, t₂+W]) is exactly the greedy machine the
    * stream runs; each step is one user-keyed conditional min over the
    * packed (micros, event_id) total-order key ([[packedTsKey]] —
    * DECIMAL(38,0) here, HUGEINT in the oracle), with the deadline
    * compared on the micros component so both engines elect identical
    * transitions even on tied instants. Output is the corpus stage
    * histogram.
    *
    * Scale: three user-keyed aggs + equi joins (each conditional min is
    * map-side combinable; milestone filters prune each pass to one
    * event type), one distinct, one small final agg — no windows, no
    * per-user sort anywhere in the batch plan. */
  val st19 = Q("st19_funnel_stages",
    s"""WITH ev AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000000000 + event_id AS k,
      |    epoch_us(ts) AS m
      |  FROM events),
      |t1 AS (SELECT user_id, min(k) AS t1k FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |t1x AS (SELECT user_id, t1k,
      |        CAST(t1k // 1000000000000000000 AS BIGINT) AS t1m FROM t1),
      |t2 AS (SELECT e.user_id, min(e.k) AS t2k
      |       FROM ev e JOIN t1x USING (user_id)
      |       WHERE e.event_type = 'click' AND e.k > t1x.t1k
      |         AND e.m <= t1x.t1m + $FunnelWindowUs GROUP BY 1),
      |t2x AS (SELECT user_id, t2k,
      |        CAST(t2k // 1000000000000000000 AS BIGINT) AS t2m FROM t2),
      |t3 AS (SELECT e.user_id, min(e.k) AS t3k
      |       FROM ev e JOIN t2x USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.k > t2x.t2k
      |         AND e.m <= t2x.t2m + $FunnelWindowUs GROUP BY 1),
      |stages AS (
      |  SELECT u.user_id,
      |    CASE WHEN t3.user_id IS NOT NULL THEN 3
      |         WHEN t2.user_id IS NOT NULL THEN 2
      |         WHEN t1x.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  LEFT JOIN t1x USING (user_id)
      |  LEFT JOIN t2 USING (user_id)
      |  LEFT JOIN t3 USING (user_id))
      |SELECT CAST(stage AS BIGINT) AS stage,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM stages GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val raw = Tables.events(s, d)
    val ev = raw.select(col("user_id"), col("event_type"),
        packedTsKey(raw).as("k"), eventMicros(raw).as("m"))
      .localCheckpoint() // feeds four passes (t1/t2/t3/users)
    def firstWithin(typ: String, prev: DataFrame, prevK: String,
        out: String): DataFrame = {
      val base = ev.filter(col("event_type") === typ)
      (if (prev eq null) base
       else {
         val px = prev.withColumn("pm",
           expr(s"CAST($prevK DIV 1000000000000000000 AS BIGINT)"))
         base.join(px, "user_id")
           .filter(col("k") > col(prevK) &&
             col("m") <= col("pm") + FunnelWindowUs)
       })
        .groupBy("user_id").agg(min("k").as(out))
    }
    val t1 = firstWithin("view", null, "", "t1k")
    val t2 = firstWithin("click", t1, "t1k", "t2k")
    val t3 = firstWithin("purchase", t2, "t2k", "t3k")
    ev.select("user_id").distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(when(col("t3k").isNotNull, 3L)
        .when(col("t2k").isNotNull, 2L)
        .when(col("t1k").isNotNull, 1L).otherwise(0L).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  // --------------------------------------------------------------- st20
  /** Batch twin of the stream-stream interval SEMI join
    * ([[graft.streaming.StreamOps.purchasesWithPriorClick]], SAME
    * function, watermarks erased in batch): purchases that had at least
    * one click in the preceding 10 minutes, emitted ONCE each — the
    * existence-test join mode that completes the inner (st05) / left
    * outer (st06) / full outer (st08) matrix. Semi is the mode that
    * never amplifies: output <= left input whatever the click fanout,
    * and no click payload crosses into results — at 100 TB that is the
    * difference between an audit query and a join explosion. Oracle is
    * the textbook EXISTS. */
  val st20 = Q("st20_interval_join_semi",
    """SELECT p.user_id, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |WHERE EXISTS (
      |  SELECT 1 FROM (SELECT * FROM events WHERE event_type = 'click') c
      |  WHERE c.user_id = p.user_id
      |    AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts)
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    graft.streaming.StreamOps
      .purchasesWithPriorClick(side("click"), side("purchase"))
      .select(col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("purchase_value"))
      .orderBy("user_id", "purchase_ts")
  }

  // --------------------------------------------------------------- st21
  /** Batch twin of the STREAMING as-of enrichment — and not a rewrite:
    * it runs [[graft.streaming.StreamOps.asofEnrich]] itself in batch
    * mode (the st09 discipline: `flatMapGroupsWithState` executes in
    * both modes, so the oracle checks the exact code path the stream
    * runs). Each purchase carries the latest same-user signup value at
    * its event time — q20's as-of semantics with the dimension arriving
    * ON the stream (st07 covers the static-dim case). The oracle states
    * DuckDB's native ASOF join over the purchases. StreamJoinSpec
    * additionally feeds the same events through a MemoryStream in two
    * event-time-ordered batches and pins byte-equality with this twin —
    * the state carry-over batch mode cannot exercise. */
  val st21 = Q("st21_streaming_asof",
    """SELECT e.event_id, e.user_id, s.value AS signup_value
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase') e
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
      |                WHERE event_type = 'signup') s
      |  ON e.user_id = s.user_id AND e.ts >= s.ts
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.StreamOps
    val ds = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
      .as[StreamOps.ChangeEvent]
    StreamOps.asofEnrich(ds)
      .toDF("event_id", "user_id", "signup_value")
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- st22
  /** Batch twin of the streaming LEFT ANTI interval join
    * ([[graft.streaming.StreamOps.purchasesWithoutPriorClick]] — the
    * outer-join-null-filter derivation, since Structured Streaming has
    * no native stream-stream anti; the st09 discipline: the SAME
    * function runs here in batch). "Purchases with no click in the
    * prior 10 minutes" — the abandonment/anomaly slice, the exact
    * complement of st20's semi (StreamJoinSpec pins the partition law
    * on a live MemoryStream: semi ∪ anti = all purchases, disjoint).
    * Oracle = NOT EXISTS over the same window. */
  val st22 = Q("st22_interval_join_anti",
    """SELECT p.user_id, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM (SELECT * FROM events WHERE event_type = 'click') c
      |  WHERE c.user_id = p.user_id
      |    AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts)
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    def side(t: String) = events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ts"))
      .as[graft.streaming.StreamOps.UserEvent]
    graft.streaming.StreamOps
      .purchasesWithoutPriorClick(side("click"), side("purchase"))
      .select(col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("purchase_value"))
      .orderBy("user_id", "purchase_ts")
  }

  // --------------------------------------------------------------- st23
  /** Candidate watermark delays (seconds) for the advisor sweep. */
  private val WmCandidates = Seq(0L, 60L, 300L, 600L)
  /** Arrival-order bucket width (micros) for the two-phase prefix max. */
  private val ArrBucketUs = 600000000L

  /** Watermark-lateness advisor — the q57/d20 measured-advisor
    * discipline applied to the ONE streaming config every st-family
    * deployment must choose: `withWatermark`'s delay. For each
    * candidate delay, how many events would the watermark drop? An
    * event is dropped when it arrives after the high-water mark (the
    * max event time seen so far in ARRIVAL order) has advanced past
    * its timestamp by more than the delay — so the whole question
    * reduces to an exclusive PREFIX MAX over arrival order, the scan
    * dataflow none of st01–st22 exercise. The corpus stores no arrival
    * order (events land pre-sorted — measured zero lateness), so
    * arrival is DERIVED deterministically: event time plus an
    * md5-seeded jitter in (−300 s, +300 s] (the er01/ml04 frozen-
    * derivation discipline — DuckDB rebuilds the identical arrival
    * stream, and the survival curve is non-trivial at every SF).
    *
    * Scale: a corpus-global window would single-task the scan (the
    * n02 ban), so the prefix max is TWO-PHASE, exactly n02's shape:
    * arrival-time buckets → per-bucket max → a bucket-count-sized
    * exclusive cummax (the one tiny single-partition window, over
    * bucket SUMMARIES) broadcast back → a bucket-PARTITIONED keyed
    * window for the within-bucket prefix, combined with `greatest`.
    * Ties order by (arrival, event_id) — a total order, so both
    * engines see the same high-water sequence row for row. The sweep
    * itself is one conditional agg + a 4-row unpivot. */
  /** The st23 derived arrival stream `(event_id, em, arr)` — event time
    * and md5-jittered arrival time, both epoch micros. Shared by st23,
    * its replay spec, and the observed-lateness runtime twin
    * (`WatermarkAdvisorSpec`), so the three can never drift. */
  private[graft] def arrivalStream(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(s, d)
    raw.selectExpr("event_id", s"${eventMicrosSql(raw)} AS em")
      .selectExpr("event_id", "em",
        """em + (CAST(conv(substr(md5(concat('st23:',
          | CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)
          | % 600000000) - 300000000 AS arr"""
          .stripMargin.replace("\n", " "))
  }

  /** DuckDB form of [[arrivalStream]] — ONE definition of the derived
    * arrival stream, spliced into both the st23 and st26 oracles (the
    * shared-CTE discipline: the advisors must sweep the identical
    * arrival sequence). */
  private val ArrivalCteSql: String =
    """e AS (
      |  SELECT event_id, epoch_us(ts) AS em,
      |    epoch_us(ts)
      |      + (CAST(concat('0x', substr(md5('st23:' ||
      |           CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |         % 600000000) - 300000000 AS arr
      |  FROM events)""".stripMargin

  val st23 = Q("st23_watermark_advisor", {
    val cands = WmCandidates
    s"""WITH $ArrivalCteSql,
       |l AS (
       |  SELECT event_id,
       |    greatest(0, coalesce(
       |      max(em) OVER (ORDER BY arr, event_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING
       |                    AND 1 PRECEDING) - em, 0)) AS lat
       |  FROM e),
       |w(wm_seconds) AS (
       |  SELECT * FROM (VALUES ${cands.map(c => s"($c)").mkString(", ")}))
       |SELECT CAST(w.wm_seconds AS BIGINT) AS wm_seconds,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN l.lat > w.wm_seconds * 1000000
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN l.lat > w.wm_seconds * 1000000
       |                THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS dropped_ppm
       |FROM l CROSS JOIN w
       |GROUP BY w.wm_seconds
       |ORDER BY wm_seconds""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = arrivalStream(s, d)
      .withColumn("bkt", expr(s"arr div $ArrBucketUs"))
      .localCheckpoint() // read by the bucket summary AND the scan
    // phase 1: bucket summaries; exclusive cummax over the TINY
    // bucket table (the n02 two-phase discipline)
    val bkts = ev.groupBy("bkt").agg(max("em").as("bmax"))
      .withColumn("prevmax", max(col("bmax")).over(
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)))
      .select("bkt", "prevmax")
    // phase 2: within-bucket exclusive prefix max, keyed by bucket
    val wIn = Window.partitionBy("bkt").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lat = ev.join(broadcast(bkts), "bkt")
      .withColumn("wmax", max(col("em")).over(wIn))
      .selectExpr("event_id",
        """greatest(0, coalesce(
          | greatest(coalesce(wmax, -1), coalesce(prevmax, -1)) - em,
          | 0)) AS lat""".stripMargin.replace("\n", " "))
    val cands = WmCandidates
    val aggExprs = count(lit(1)).as("n") +:
      cands.map(c => sum(when(col("lat") > c * 1000000L, 1L).otherwise(0L))
        .as(s"d$c"))
    val aggs = lat.agg(aggExprs.head, aggExprs.tail: _*)
    aggs.selectExpr("n",
        s"stack(${cands.size}, ${cands.map(c => s"${c}L, d$c").mkString(", ")})" +
          " AS (wm_seconds, n_dropped)")
      .selectExpr("CAST(wm_seconds AS BIGINT) AS wm_seconds",
        "CAST(n AS BIGINT) AS n_events",
        "CAST(n_dropped AS BIGINT) AS n_dropped",
        "CAST(n_dropped * 1000000 DIV n AS BIGINT) AS dropped_ppm")
      .orderBy("wm_seconds")
  }

  // --------------------------------------------------------------- st24
  /** Coverage target for the recommended session gap (ppm). */
  private val GapCoveragePpm = 900000L
  /** floor-log2 octave of a gap in seconds, as a generated CASE chain
    * (t32's no-float-log rule). Covers gaps < 2^21 s ≈ 24 days. */
  private val GapOctaveSql: String =
    (0 until 21).map(o => s"WHEN gap_s < ${1L << o} THEN $o")
      .mkString("CASE ", " ", " ELSE 21 END")

  /** Session-gap advisor — the third measured-advisor (q57 picks the
    * skew salt, st23 the watermark delay; this picks st03's SESSION
    * TIMEOUT, the other free parameter every sessionising deployment
    * guesses): the per-user inter-event gap distribution as a log2
    * histogram, with cumulative coverage and the recommendation read
    * off the curve — the smallest octave boundary covering ≥
    * [[GapCoveragePpm]] of observed gaps (gaps BELOW the chosen
    * timeout stay intra-session; the ppm above it is exactly the
    * session-split rate you accept). Dataflow: gaps are one
    * user-KEYED lag window (ordered by (event time, event_id) — a
    * total order, both engines see identical gaps); the histogram is
    * a 22-key agg with map-side combine; coverage is a window over
    * the 22-row histogram (the t32/q02 tiny-summary exception).
    * Integer end to end: micros → seconds by integer division,
    * octaves via the t32 CASE chain, coverage in ppm. */
  val st24 = Q("st24_session_gap_advisor",
    s"""WITH g AS (
       |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |    AS gap_us
       |  FROM events),
       |b AS (
       |  SELECT $GapOctaveSql AS bucket, count(*) AS n_gaps
       |  FROM (SELECT gap_us // 1000000 AS gap_s FROM g
       |        WHERE gap_us IS NOT NULL)
       |  GROUP BY 1),
       |c AS (
       |  SELECT bucket, n_gaps,
       |    sum(n_gaps) OVER (ORDER BY bucket) AS cum,
       |    sum(n_gaps) OVER () AS tot
       |  FROM b),
       |r AS (
       |  SELECT min(bucket) AS rb FROM c
       |  WHERE cum * 1000000 // tot >= $GapCoveragePpm)
       |SELECT CAST(c.bucket AS BIGINT) AS bucket,
       |  CAST(CASE WHEN c.bucket = 0 THEN 1
       |       ELSE (CAST(1 AS BIGINT) << c.bucket) END AS BIGINT)
       |    AS gap_ceil_s,
       |  CAST(c.n_gaps AS BIGINT) AS n_gaps,
       |  CAST(c.cum * 1000000 // c.tot AS BIGINT) AS cum_ppm,
       |  c.bucket = r.rb AS recommended
       |FROM c CROSS JOIN r
       |ORDER BY bucket""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.events(s, d)
    val em = eventMicrosSql(raw)
    val g = raw
      .selectExpr("user_id", "event_id", s"$em AS em")
      .withColumn("gap_us", col("em") - lag(col("em"), 1).over(
        Window.partitionBy("user_id").orderBy("em", "event_id")))
      .filter(col("gap_us").isNotNull)
      .selectExpr("gap_us div 1000000 AS gap_s")
    val b = g.groupBy(expr(GapOctaveSql).as("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
      .localCheckpoint() // 22 rows; coverage + recommendation read it
    val c = b
      .withColumn("cum", sum(col("n_gaps")).over(
        Window.orderBy("bucket")))
      .withColumn("tot", sum(col("n_gaps")).over(Window.partitionBy()))
    val r = c.filter(expr(s"cum * 1000000 div tot >= $GapCoveragePpm"))
      .agg(min("bucket").as("rb"))
    c.crossJoin(broadcast(r))
      .selectExpr("CAST(bucket AS BIGINT) AS bucket",
        """CAST(CASE WHEN bucket = 0 THEN 1
          | ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) END
          | AS BIGINT) AS gap_ceil_s""".stripMargin.replace("\n", " "),
        "CAST(n_gaps AS BIGINT) AS n_gaps",
        "CAST(cum * 1000000 div tot AS BIGINT) AS cum_ppm",
        "bucket = rb AS recommended")
      .orderBy("bucket")
  }

  // --------------------------------------------------------------- st25
  /** Session gap / dedup horizon for [[st25]] (seconds). */
  private[graft] val DedupGapSec = 600L

  /** Event-time deduplication with bounded state — the batch twin of
    * the streaming dedup tier. Semantics: per user, ADMIT an event iff
    * it starts a `session_window(ts, 600s)` session; every later
    * same-user event whose gap chain stays under the horizon is a
    * duplicate and drops. This is exactly what a
    * `session_window`-grouped stream admits once the watermark closes
    * each session (emission timing changes, assignment does not — the
    * split is strict-overlap: a gap of EXACTLY the horizon starts a
    * new session), so the batch and streaming forms are the same
    * computation; `StreamDedupSpec` replays this query through
    * MemoryStream and gets row-identical output, and separately pins
    * the WEAKER contract of Spark's cheaper
    * `dropDuplicatesWithinWatermark` (admission there also depends on
    * watermark-driven state eviction — under in-order arrival, admitted
    * same-key events are ≥ 2× the delay apart, and a duplicate chain
    * can extend suppression indefinitely). Dataflow: one user-keyed
    * session aggregation, min-struct per session — no corpus-global
    * window, state per live session only. The oracle states the
    * gaps-and-islands form (first row of each ≥-gap island); the hash
    * compare proves it equals session_window's assignment. */
  val st25 = Q("st25_session_dedup",
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS em FROM events),
       |l AS (
       |  SELECT user_id, event_id, em,
       |    lag(em) OVER (PARTITION BY user_id ORDER BY em, event_id) AS prev
       |  FROM e)
       |SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
       |  CAST(em AS BIGINT) AS em
       |FROM l
       |WHERE prev IS NULL OR em - prev >= $DedupGapSec * 1000000
       |ORDER BY user_id, em, event_id""".stripMargin) { (s, d) =>
    sessionDedup(eventFrame(s, d))
  }

  /** `(user_id, event_id, em, ts)` projection shared by [[st25]] and its
    * streaming replay. */
  private[graft] def eventFrame(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(s, d)
    raw.selectExpr("user_id", "event_id", s"${eventMicrosSql(raw)} AS em")
      .withColumn("ts", expr("timestamp_micros(em)"))
  }

  /** The st25 dedup over any `(user_id, event_id, em, ts)` frame —
    * batch and MemoryStream replays run THIS code (unsorted: a
    * streaming plan cannot sort; the batch wrapper orders for the
    * oracle). */
  private[graft] def sessionDedupCore(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), s"$DedupGapSec seconds"),
        col("user_id"))
      .agg(min(struct(col("em"), col("event_id"))).as("first"))
      .select(col("user_id"),
        col("first.event_id").cast("long").as("event_id"),
        col("first.em").cast("long").as("em"))

  private[graft] def sessionDedup(ev: DataFrame): DataFrame =
    sessionDedupCore(ev).orderBy("user_id", "em", "event_id")

  // --------------------------------------------------------------- st26
  /** Candidate trigger intervals (seconds) for the st26 sweep. */
  private[graft] val TriggerCandidatesS = Seq(1L, 2L, 5L, 10L, 30L, 60L)
  /** Modeled per-event micro-batch processing cost (µs) and per-trigger
    * scheduling overhead (ms) for [[st26]]'s latency estimate. The
    * estimate is LINEAR in both — a deployment re-measures its own
    * per-event cost (the in19 logical-estimate discipline) and the
    * advisor's ordering of candidates is cost-invariant. */
  private[graft] val PerEventCostUs = 50L
  private[graft] val TriggerOverheadMs = 200L
  /** Target end-to-end micro-batch latency (ms) the recommendation
    * must stay under. */
  private[graft] val TargetLatencyMs = 5000L

  /** Trigger-sizing advisor core over an arrival stream `(arr micros)`
    * — shared by [[st26]] (st23's derived corpus arrivals) and the
    * observed-metrics twin in `WatermarkAdvisorSpec`, which replays a
    * known arrival schedule through a REAL micro-batch query
    * (maxFilesPerTrigger = one arrival-second per trigger) and checks
    * the advisor's rate table against the runtime's own
    * `numInputRows` progress — the two can never drift. */
  private[graft] def triggerAdvice(arrivals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-arrival-second rates: the ONLY corpus-sized pass (keyed agg,
    // map-side combined); everything after is seconds- or tinier-sized
    val sec = arrivals.selectExpr("arr div 1000000 AS s")
      .groupBy("s").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read by count-of-counts AND the span stats
    // p99 per-second rate WITHOUT a seconds-global sort: count-of-
    // counts histogram (≤ peak distinct values), cumulate, take the
    // smallest rate covering ⌈0.99·n_active⌉ seconds (q64's
    // boundaries-not-ntile discipline; cum·100 ≥ 99·n ⟺ cum ≥ ⌈.99n⌉)
    val coc = sec.groupBy("cnt").agg(count(lit(1)).as("ns"))
    val st = sec.agg(min("s").as("smin"), max("s").as("smax"),
      sum("cnt").as("n"), count(lit(1)).as("nact"), max("cnt").as("peak"))
    val cum = coc.withColumn("cum",
      sum(col("ns")).over(Window.orderBy("cnt")))
    val p99 = cum.crossJoin(broadcast(st.select(col("nact"))))
      .filter(expr("cum * 100 >= nact * 99"))
      .agg(min("cnt").as("p99"))
    val o = st.crossJoin(broadcast(p99))
      .select(explode(expr(
        s"array(${TriggerCandidatesS.mkString(", ")})")).as("trigger_s"),
        col("smin"), col("smax"), col("n"), col("peak"), col("p99"))
      .selectExpr("CAST(trigger_s AS BIGINT) AS trigger_s",
        "CAST(n * trigger_s div (smax - smin + 1) AS BIGINT) AS batch_mean",
        "CAST(p99 * trigger_s AS BIGINT) AS batch_p99",
        "CAST(p99 * trigger_s * 6 div 5 AS BIGINT) AS max_offsets_per_trigger",
        s"""CAST(p99 * trigger_s * $PerEventCostUs div 1000
           | + $TriggerOverheadMs AS BIGINT) AS est_latency_ms"""
          .stripMargin.replace("\n", " "))
      .localCheckpoint() // 6 rows; the recommendation re-reads it
    val rec = o.agg(
      coalesce(max(when(col("est_latency_ms") <= TargetLatencyMs,
        col("trigger_s"))), min(col("trigger_s"))).as("rect"))
    o.crossJoin(broadcast(rec))
      .withColumn("recommended", col("trigger_s") === col("rect"))
      .drop("rect").orderBy("trigger_s")
  }

  /** Trigger-sizing advisor — the fourth measured-advisor (q57 the
    * skew salt, st23 the watermark delay, st24 the session gap, in19
    * the file size; this picks the OTHER two knobs every micro-batch
    * deployment guesses: `maxOffsetsPerTrigger` and the trigger
    * interval). From the measured per-arrival-second rate distribution
    * of st23's derived arrival stream, for each candidate interval T:
    * the mean batch (n·T / wall-span), the p99-burst batch (p99-rate
    * · T — the size the cap must admit so a burst drains instead of
    * queueing), the recommended cap (p99 batch + 20% headroom), and a
    * modeled latency estimate (batch · per-event cost + trigger
    * overhead). Recommended = the LARGEST interval whose estimate
    * meets [[TargetLatencyMs]] (fewest triggers that still meet the
    * latency target; the smallest candidate as the loud fallback when
    * none do) — the st24 coverage-curve discipline: the knob is read
    * off a measured curve, never guessed.
    *
    * Scale: one keyed per-second agg over arrivals; the rate
    * PERCENTILE rides a count-of-counts histogram (≤ peak-rate rows),
    * never a seconds-global sort; the sweep is a 6-row unpivot.
    * Integer end-to-end (ceil via `cum·100 ≥ 99·n`, trunc div both
    * engines). */
  val st26 = Q("st26_trigger_advisor",
    s"""WITH $ArrivalCteSql,
       |sec AS (
       |  SELECT arr // 1000000 AS s, CAST(count(*) AS BIGINT) AS cnt
       |  FROM e GROUP BY 1),
       |coc AS (SELECT cnt, count(*) AS ns FROM sec GROUP BY 1),
       |st AS (
       |  SELECT min(s) AS smin, max(s) AS smax, sum(cnt) AS n,
       |    count(*) AS nact, max(cnt) AS peak
       |  FROM sec),
       |cum AS (SELECT cnt, sum(ns) OVER (ORDER BY cnt) AS cum FROM coc),
       |p99 AS (
       |  SELECT min(cnt) AS p99 FROM cum CROSS JOIN st
       |  WHERE cum * 100 >= nact * 99),
       |t(trigger_s) AS (VALUES ${TriggerCandidatesS.map(c => s"($c)")
          .mkString(", ")}),
       |o AS (
       |  SELECT CAST(t.trigger_s AS BIGINT) AS trigger_s,
       |    CAST(n * t.trigger_s // (smax - smin + 1) AS BIGINT)
       |      AS batch_mean,
       |    CAST(p99 * t.trigger_s AS BIGINT) AS batch_p99,
       |    CAST(p99 * t.trigger_s * 6 // 5 AS BIGINT)
       |      AS max_offsets_per_trigger,
       |    CAST(p99 * t.trigger_s * $PerEventCostUs // 1000
       |      + $TriggerOverheadMs AS BIGINT) AS est_latency_ms
       |  FROM t CROSS JOIN st CROSS JOIN p99),
       |r AS (
       |  SELECT coalesce(max(CASE WHEN est_latency_ms <= $TargetLatencyMs
       |      THEN trigger_s END), min(trigger_s)) AS rect
       |  FROM o)
       |SELECT o.trigger_s, o.batch_mean, o.batch_p99,
       |  o.max_offsets_per_trigger, o.est_latency_ms,
       |  o.trigger_s = r.rect AS recommended
       |FROM o CROSS JOIN r ORDER BY trigger_s""".stripMargin) { (s, d) =>
    triggerAdvice(arrivalStream(s, d).select(col("arr")))
  }

  def all: Seq[Q] = Seq(st01, st02, st03, st04, st05, st06, st07, st08, st09,
    st10, st11, st12, st13, st14, st15, st16, st17, st18, st19, st20, st21,
    st22, st23, st24, st25, st26)
}
