package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables

/** Event-time processing over the `events` stream — the
  * generalization of the reference's daily batch cadence (O2,
  * `/root/reference/dags/airflow_dag.py:27,29`) into Structured
  * Streaming (SURVEY.md §2, streaming row).
  *
  * Every transform here takes a DataFrame that may be EITHER batch or
  * streaming — identical plans both ways, which is how the operators
  * are oracle-checked (batch vs DuckDB) while the streaming behavior
  * (watermark, late-data drop ≈ the reference's catchup=False) is
  * asserted with MemoryStream in StreamingSpec.
  *
  * Scale notes: windowed aggregation state is keyed by
  * (window, group); the watermark bounds state size. Session windows
  * use Spark's built-in session_window (merging state), and the
  * custom sessionizer shows the flatMapGroupsWithState escape hatch
  * for semantics the built-ins can't express.
  */
object StreamingOps {

  /** Tumbling event-time windows with per-type aggregates. */
  def tumblingCounts(events: DataFrame, width: String = "1 day",
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding windows (width 2 days, slide 1 day): each event lands in
    * two windows. */
  def slidingCounts(events: DataFrame, width: String = "2 days",
      slide: String = "1 day", watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))

  /** Gap-based session windows per user (built-in session_window). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("last_ts"), col("n_events"))

  // --- custom stateful sessionization (flatMapGroupsWithState) -------

  final case class Event(user_id: Long, ts: Timestamp, value: Double,
      event_type: String = "click")
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, session_start: Timestamp,
      n_events: Long)

  /** Streaming sessionizer with explicit state — the
    * flatMapGroupsWithState escape hatch for semantics the built-in
    * session_window can't express (e.g. sessions that also close on a
    * logout event). A session is emitted when a later event from the
    * same user arrives past the gap; in production you'd add an
    * EventTimeTimeout so idle sessions flush on watermark advance. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val out = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last < gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                out += Session(user, new Timestamp(s.start), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming throttle — the stateful-stream twin of
    * [[graft.operators.Behavioral.throttleDedup]]: per (user, type),
    * pass an event only if at least `minGapMs` elapsed since the last
    * PASSED one. Unlike the batch lag() form (gap vs previous raw
    * event) this is kept-based rate limiting, the semantics only
    * per-key running state can express — exactly the
    * flatMapGroupsWithState niche. State is one timestamp per key. */
  def throttleStream(events: Dataset[Event], minGapMs: Long = 300000L)
      : Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[Event], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[Event]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (last == Long.MinValue || t - last >= minGapMs) {
              out += e
              last = t
            }
          }
          state.update(last)
          out.result().iterator
      }
  }

  final case class DocKey(doc_id: Long, source: String, k_eval: String)
  final case class HoldoutSnapshot(source: String, doc_ids: Seq[Long])

  /** Streaming twin of [[graft.operators.TextAnalysis
    * .evalHoldoutPerSource]]: maintain "the k hash-smallest docs per
    * source" over an UNBOUNDED document stream — the eval slice stays
    * current as the crawl grows, without re-reading the corpus. State
    * per source is the k-bounded sorted pick list (same (k_eval,
    * doc_id) order as the batch operator, so the two agree exactly on
    * any prefix); each micro-batch folds its rows into the state and
    * emits the group's CURRENT snapshot (Update mode — a newly-seen
    * smaller hash displaces an earlier pick, which append semantics
    * could not retract). The latest snapshot per source always equals
    * the batch operator over everything seen so far (spec-pinned). */
  def holdoutStream(docs: Dataset[DocKey], k: Int = 5)
      : Dataset[HoldoutSnapshot] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[Seq[(String, Long)], HoldoutSnapshot](
        GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocKey],
            state: GroupState[Seq[(String, Long)]]) =>
          var cur = state.getOption.getOrElse(Seq.empty)
          rows.foreach { d =>
            cur = ((d.k_eval, d.doc_id) +: cur).sorted.take(k)
          }
          state.update(cur)
          HoldoutSnapshot(src, cur.map(_._2))
      }
  }

  /** Streaming deduplication: exactly-once per `idCols` with state
    * bounded by the watermark — the streaming form of
    * TextAnalysis.dedupExact (late duplicates beyond the watermark are
    * not guaranteed dropped; upstream replay inside it is). */
  def dedupStream(events: DataFrame, watermark: String = "1 hour",
      idCols: Seq[String] = Seq("user_id", "ts")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** The BATCH twin of [[dedupStream]]'s bounded-horizon semantics,
    * as an audit card: per (user_id, event_type), the CANONICAL
    * event-time keep-chain — first event kept, every same-key event
    * within `horizonUs` of the LAST KEPT one dropped, the next one
    * beyond it re-arms. `dropDuplicatesWithinWatermark` approximates
    * exactly this chain conservatively (its state outlives the
    * horizon by the watermark lag, so it may drop events this chain
    * keeps — the documented "guaranteed within delay, best-effort
    * beyond" contract); the invariants the two SHARE — the first
    * event per key is always kept, and no two kept events sit within
    * the horizon of each other — are what StreamingSpec pins. Output
    * is the per-key audit (#events, #kept, first/last kept µs) a
    * streaming deployment validates its state eviction against.
    *
    * The chain is data-dependent (each kept event re-anchors the
    * horizon), so it's a per-key ordered fold — one keyed groupBy
    * collecting the key's timestamps, then a row-local integer fold.
    * Per-key state is that key's event list: fine for keyed telemetry
    * audit; a hot key at 100 TB caps this tier (the STREAMING twin
    * with watermark-bounded state is the production path — this card
    * is its finite audit). */
  def horizonDedupCard(events: DataFrame,
      horizonUs: Long = 3600L * 1000000L): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(unix_micros(col("ts")))).as("tss"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        aggregate(
          slice(col("tss"), lit(2), greatest(size(col("tss")) - 1, lit(0))),
          slice(col("tss"), 1, 1),
          (acc, x) => when(x > element_at(acc, -1) + lit(horizonUs),
            concat(acc, array(x))).otherwise(acc)).as("kept"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        size(col("kept")).cast("long").as("n_kept"),
        element_at(col("kept"), 1).as("first_kept_us"),
        element_at(col("kept"), -1).as("last_kept_us"))
      .orderBy(col("user_id"), col("event_type"))

  /** Stream-stream interval join: errors within `windowMinutes` after
    * a purchase by the same user — the streaming form of
    * Advanced.purchaseErrorPairs. Both sides carry watermarks so join
    * state is evicted once event time passes the interval bound. */
  def purchaseErrorStream(events: DataFrame, windowMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame =
    purchaseErrorJoin(events, windowMinutes, watermark, "inner")

  /** LEFT OUTER flavor of [[purchaseErrorStream]]: matched pairs emit
    * immediately, and a purchase with NO error in its window emits
    * with null error_ts — but only once the watermark passes
    * purchase_ts + window, when the absence is provably final (the
    * same bound that evicts the join state). Batch twin:
    * Advanced.purchaseErrorPairsOuter (q128). */
  def purchaseErrorStreamOuter(events: DataFrame, windowMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame =
    purchaseErrorJoin(events, windowMinutes, watermark, "leftOuter")

  /** The watermarked purchase ⋈ error interval join behind both
    * [[purchaseErrorStream]] flavors; only `joinType` differs. */
  private def purchaseErrorJoin(events: DataFrame, windowMinutes: Int,
      watermark: String, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("error_ts"))
      .withWatermark("error_ts", watermark)
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("error_ts") >= col("purchase_ts") &&
        col("error_ts") <=
          col("purchase_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("error_ts"))
  }

  /** One micro-batch of an idempotent lake sink: the batch lands in
    * its own `batch_id=<id>` directory with overwrite semantics, so a
    * REPLAYED batch (checkpoint recovery re-delivers the last
    * uncommitted one) overwrites itself instead of appending
    * duplicates — exactly-once output on top of at-least-once
    * delivery. Factored out of the stream wiring so the replay
    * property is directly testable. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Stream → idempotent partitioned parquet via foreachBatch (the
    * production pattern for sinks without native transactional
    * streaming support; reads see the union of batch directories). */
  def idempotentParquetStream(df: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, path))

  /** The event-type taxonomy dimension — config-as-data (the
    * reference's city/pollutant lists are the same pattern,
    * my_data_pipeline.py:16,19): a tiny in-memory dim every engine
    * replicates for free. */
  def eventTaxonomy(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("click", "engagement"), ("view", "engagement"),
      ("signup", "conversion"), ("purchase", "conversion"),
      ("error", "reliability")).toDF("event_type", "category")
  }

  /** Stream-static enrichment: the (unbounded) fact joined to a
    * static broadcast dimension — stateless, no watermark required;
    * Spark re-plans the static side per micro-batch. Works unchanged
    * on a batch frame, which is what the oracle checks. */
  def enrichWithTaxonomy(events: DataFrame): DataFrame =
    events.join(broadcast(eventTaxonomy(events.sparkSession)),
      Seq("event_type"), "left")

  /** Batch twin of the enrichment stream: daily event counts and
    * value by taxonomy category. */
  def categoryDaily(events: DataFrame): DataFrame =
    enrichWithTaxonomy(events)
      .groupBy(window(col("ts"), "1 day").getField("start")
        .as("window_start"), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("window_start"), col("category"))

  /** Batch queries (oracle-checked): same operators, batch input. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_stream_enrich_category" -> ((s, d) =>
      categoryDaily(Tables(s, d).events)),
    "q40_tumbling_daily" -> ((s, d) =>
      tumblingCounts(Tables(s, d).events)
        .orderBy("window_start", "event_type")),
    "q41_sliding_2d" -> ((s, d) =>
      slidingCounts(Tables(s, d).events).orderBy("window_start")),
    "q42_session_windows" -> ((s, d) =>
      sessionWindows(Tables(s, d).events)
        .orderBy("user_id", "session_start")),
    "q261_horizon_dedup" -> ((s, d) =>
      horizonDedupCard(Tables(s, d).events))
  )

  val oracleSql: Map[String, String] = Map(
    // the keep-chain fold as a string reduce (init = first element =
    // first kept); timestamps sorted NUMERICALLY before the varchar
    // fold; pinned to the default 1h horizon
    "q261_horizon_dedup" ->
      """WITH l AS (
        |  SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    list_transform(list_sort(list(epoch_us(ts))),
        |      x -> CAST(x AS VARCHAR)) AS tss
        |  FROM events GROUP BY user_id, event_type),
        |k AS (
        |  SELECT user_id, event_type, n_events,
        |    string_split(list_reduce(tss, (a, x) ->
        |      CASE WHEN CAST(x AS BIGINT) >
        |          CAST(string_split(a, ',')[-1] AS BIGINT) + 3600000000
        |        THEN a || ',' || x ELSE a END), ',') AS kept
        |  FROM l)
        |SELECT user_id, event_type, n_events,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(kept[1] AS BIGINT) AS first_kept_us,
        |  CAST(kept[-1] AS BIGINT) AS last_kept_us
        |FROM k
        |ORDER BY user_id, event_type""".stripMargin,
    "q83_stream_enrich_category" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |  category, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |LEFT JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
        |    ('signup', 'conversion'), ('purchase', 'conversion'),
        |    ('error', 'reliability')) AS dim(event_type, category)
        |  USING (event_type)
        |GROUP BY 1, 2
        |ORDER BY window_start, category""".stripMargin,
    "q40_tumbling_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "q41_sliding_2d" ->
      """SELECT window_start, COUNT(*) AS n FROM (
        |  SELECT unnest([CAST(date_trunc('day', ts) AS TIMESTAMP),
        |                 CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP)])
        |    AS window_start, ts
        |  FROM events) t
        |WHERE ts >= window_start AND ts < window_start + INTERVAL 2 DAY
        |GROUP BY window_start
        |ORDER BY window_start""".stripMargin,
    "q42_session_windows" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      >= INTERVAL 30 MINUTE OR
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
        |  COUNT(*) AS n_events
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}
