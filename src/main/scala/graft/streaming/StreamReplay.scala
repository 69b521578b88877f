package graft.streaming

import graft.Op, Op.{Oracle, RowsOnly}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch-replay registry lane for the streaming family (r10 verdict
  * item 8): each spec-only Structured Streaming operator gets a
  * driver-visible `SparkEntry.queries` entry that feeds the REAL
  * events/documents tables through a MemoryStream in event-time-ordered
  * micro-batches, drains the query through a memory sink, and returns
  * the emitted rows — so CORRECTNESS_r{N}.json records the streaming
  * operators per-round instead of trusting suite memory.
  *
  * Determinism contract (what makes six of these HASH-checked against
  * DuckDB, not rows-only): the feed is globally ordered by (ts, id), so
  * no event is ever late to its watermark; after the real data, two
  * far-future sentinel batches push the watermark past every window
  * close and every state timeout, so append-mode output is the
  * COMPLETE result — exactly what the batch form computes, which is
  * what the oracle SQL expresses. The two rows-only entries (funnel,
  * near-dup) stay rows-only because the per-user funnel automaton and
  * within-batch band-dedup tie-breaks are not cleanly SQL-expressible.
  *
  * Results are memoized per (session, dir, query): PlanSpec's analysis
  * sweep, Verify, and repeated calls reuse one replay run. Bench
  * QUARANTINES this family (each Op is `untimed`) — a MemoryStream replay
  * collects the fact table to the driver, which is the correctness
  * lane's price, not a scale path; the batch twins (windowed_events,
  * sessionize_events, active_users, psi_drift, range_join_clicks,
  * filter_decision) carry the scale numbers. At 100 TB these pipelines
  * run unchanged on Kafka/file sources with checkpointing — only the
  * test harness (collect + MemoryStream) is driver-bounded; the
  * operator state itself stays watermark-bounded.
  */
object StreamReplay extends Op.Registry {

  private val Batches = 8
  private val HourMs = 3600L * 1000
  private val nameCtr = new java.util.concurrent.atomic.AtomicLong()
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, String), DataFrame]()

  case class REvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)
  case class RDoc(doc_id: Long, ts: java.sql.Timestamp, text: String,
    source: String)

  /** Feed `rows` (already event-time-ordered) through `build` in
    * `Batches` micro-batches plus the `sentinels` tail, drain the
    * memory sink, return its rows localCheckpoint-ed (decoupled from
    * the stopped query). */
  private def replay[T: Encoder](s: SparkSession, rows: Seq[T],
      sentinels: Seq[T])(build: Dataset[T] => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[T]
    val sink = s"graft_replay_${nameCtr.incrementAndGet()}"
    val q = build(ms.toDS()).writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      val per = math.max(1, (rows.size + Batches - 1) / Batches)
      rows.grouped(per).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
      sentinels.foreach { sv =>
        ms.addData(sv)
        q.processAllAvailable()
      }
      s.table(sink).localCheckpoint()
    } finally q.stop()
  }

  private def memo(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    graft.api.Memo.stamped(cache, s, dir, name)(build)

  /** The real events table as an ordered driver-side feed — bounded by
    * the correctness-gate SF (the Bench quarantine keeps this lane off
    * the scale path). */
  private def orderedEvents(s: SparkSession, dir: String): Seq[REvent] = {
    import s.implicits._
    graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[REvent].collect().toSeq
  }

  private def maxTs(rows: Seq[REvent]): Long = rows.map(_.ts.getTime).max
  private def tsOf(ms0: Long): java.sql.Timestamp = new java.sql.Timestamp(ms0)
  private def eventSentinels(m: Long, h1: Long, h2: Long): Seq[REvent] = Seq(
    REvent(-1L, -1L, tsOf(m + h1 * HourMs), "__sentinel", 0.0),
    REvent(-1L, -1L, tsOf(m + h2 * HourMs), "__sentinel", 0.0))

  // -----------------------------------------------------------------
  // 319. windowedCounts replay — watermarked tumbling-window counts per
  // event type; with the ordered feed + sentinels every window closes,
  // so the emitted set equals the batch hour-window aggregate.
  def windowedReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "windowed") {
      val ev = orderedEvents(s, dir)
      import s.implicits._
      replay(s, ev, eventSentinels(maxTs(ev), 3, 6)) { ds =>
        StreamSessionize.windowedCounts(ds.toDF())
      }.filter(col("event_type") =!= "__sentinel")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
    }

  // -----------------------------------------------------------------
  // 320. sessionize replay — the stateful 30-min-gap mapGroupsWithState
  // sessionizer; sentinels fire every event-time timeout, so the
  // emitted sessions equal batch gap-sessionization per user.
  def sessionizeReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sessionize") {
      val ev = orderedEvents(s, dir)
      val m = maxTs(ev)
      val sent = Seq(
        StreamSessionize.Ev(-1L, tsOf(m + 2 * HourMs), 0.0),
        StreamSessionize.Ev(-1L, tsOf(m + 4 * HourMs), 0.0))
      import s.implicits._
      replay(s, ev.map(e => StreamSessionize.Ev(e.user_id, e.ts, e.value)),
        sent)(ds => StreamSessionize.sessionize(ds).toDF())
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
    }

  // -----------------------------------------------------------------
  // 321. streaming-DAU replay — dropDuplicatesWithinWatermark(user, day)
  // then a windowed count; the 25h horizon covers any same-day
  // duplicate (a day's events span <24h, so the first occurrence's
  // dedup state outlives every later duplicate), making the emitted
  // days EXACT per-day distinct users.
  def dauReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "dau") {
      val ev = orderedEvents(s, dir)
      val m = maxTs(ev)
      import s.implicits._
      replay(s, ev, eventSentinels(m, 50, 100)) { ds =>
        StreamSessionize.activeUsersStream(ds.toDF())
      }.filter(col("day_start") <= lit(tsOf(m)))
        .select(unix_micros(col("day_start")).as("day_start_us"), col("dau"))
    }

  // -----------------------------------------------------------------
  // 322. PSI drift monitor replay — the static baseline (per-type value
  // range + smoothed decile-bin mix over the first half of January) is
  // batch-computed, broadcast into every micro-batch, and the full
  // stream is binned against it per hour window. Identical IEEE op
  // order in engine and oracle (bin floor, (c+0.5)/(n+5) smoothing,
  // ascending-bin PSI sum) makes this hash-checked at 6 dp.
  private val PsiCut = "2024-01-16 00:00:00"

  def psiReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "psi") {
      val nBins = 10
      val evB = graft.Tables.events(s, dir)
        .filter(col("ts") < to_timestamp(lit(PsiCut)))
      val rng = evB.groupBy(col("event_type"))
        .agg(min(col("value")).as("vmn"), max(col("value")).as("vmx"),
          count(lit(1)).as("bn"))
      val binCounts: Seq[Column] = (0 until nBins).map(i =>
        count(when(col("__bin") === i, lit(1))).as(s"c$i"))
      val counted = evB.join(rng, Seq("event_type"))
        .withColumn("__bin", when(col("vmx") > col("vmn"), least(lit(nBins - 1),
          floor((col("value") - col("vmn")) / (col("vmx") - col("vmn")) * nBins)
            .cast("int"))).otherwise(lit(0)))
        .groupBy(col("event_type"), col("vmn"), col("vmx"), col("bn"))
        .agg(binCounts.head, binCounts.tail: _*)
      val baseline = counted.select(
        col("event_type") +: col("vmn") +: col("vmx") +:
          (0 until nBins).map(i => ((col(s"c$i") + lit(0.5))
            / (col("bn") + lit(0.5 * nBins))).as(s"q$i")): _*)
        .localCheckpoint()
      val ev = orderedEvents(s, dir)
      import s.implicits._
      replay(s, ev, eventSentinels(maxTs(ev), 3, 6)) { ds =>
        StreamSessionize.psiMonitor(ds.toDF(), baseline)
      }.select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"), round(col("psi"), 6).as("psi"))
    }

  // -----------------------------------------------------------------
  // 323. ingest-filter replay — the stateless streaming front door
  // (codegen'd quality signals + stream-static broadcast join to
  // per-source priors). Stateless, so the replay output is exactly the
  // batch computation (hash-checked).
  def ingestFilterReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "ingest_filter") {
      import s.implicits._
      val docs = graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
        .orderBy(col("doc_id"))
        .as[(Long, String, String)].collect().toSeq
      val base = 1704067200000L // 2024-01-01T00:00Z
      val rows = docs.map { case (id, t, src) =>
        RDoc(id, tsOf(base + id * 1000L), t, src) }
      val nDocs = docs.size.toDouble
      val priors = graft.Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg((count(lit(1)) / lit(nDocs)).as("source_weight"))
        .localCheckpoint()
      replay(s, rows, Seq.empty) { ds =>
        StreamSessionize.ingestFilter(ds.toDF(), priors)
      }.select(col("doc_id"),
        col("n_ws_tokens").cast("long").as("n_ws_tokens"),
        round(col("digit_ratio"), 6).as("digit_ratio"),
        round(col("source_weight"), 6).as("source_weight"),
        col("keep"))
    }

  // -----------------------------------------------------------------
  // 324. stream-stream click-attribution replay — each purchase joins
  // the same user's clicks from the preceding hour; the 2h/1h watermark
  // pair keeps click state alive past any joinable purchase (eviction
  // needs wm > c_ts+1h, but wm lags max event time by 2h), so the inner
  // join emits exactly the batch interval join (hash-checked).
  def clickAttributionReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "click_attribution") {
      val ev = orderedEvents(s, dir)
      import s.implicits._
      replay(s, ev, Seq.empty) { ds =>
        val df = ds.toDF()
        StreamSessionize.clickAttribution(
          df.filter(col("event_type") === "click"),
          df.filter(col("event_type") === "purchase"))
      }.select(col("event_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"), col("c_val"))
    }

  // -----------------------------------------------------------------
  // 325. funnel replay (rows-only): the flatMapGroupsWithState ordered
  // view→click→purchase tracker over the real events; completions emit
  // inline, sentinels time out every partial. Rows-only: see its Op.
  def funnelReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "funnel") {
      val ev = orderedEvents(s, dir)
      val m = maxTs(ev)
      val sent = Seq(
        StreamSessionize.FunnelEv(-1L, tsOf(m + 3 * HourMs), "view"),
        StreamSessionize.FunnelEv(-1L, tsOf(m + 6 * HourMs), "view"))
      import s.implicits._
      replay(s, ev.map(e => StreamSessionize.FunnelEv(e.user_id, e.ts, e.event_type)),
        sent)(ds => StreamSessionize.funnel(ds).toDF())
        .filter(col("user_id") >= 0)
    }

  // -----------------------------------------------------------------
  // 326. near-dup stream replay (rows-only): every doc explodes into 16
  // LSH band keys; bands already claimed within the watermark horizon
  // are dropped, so fresh-band counts measure novelty. Rows-only: see
  // its Op.
  def nearDupReplay(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "near_dup") {
      import s.implicits._
      val docs = graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .as[(Long, String)].collect().toSeq
      val base = 1704067200000L
      val rows = docs.map { case (id, t) => RDoc(id, tsOf(base + id * 1000L), t, "") }
      val m = base + docs.map(_._1).max * 1000L
      val sent = Seq(
        RDoc(-1L, tsOf(m + 3 * HourMs), "__sentinel__", ""),
        RDoc(-1L, tsOf(m + 6 * HourMs), "__sentinel2__", ""))
      replay(s, rows, sent) { ds =>
        StreamSessionize.nearDupStream(ds.toDF().drop("source"))
      }.filter(col("doc_id") >= 0)
    }

  // -----------------------------------------------------------------
  private val ReplayLane =
    "the streaming replay lane: correctness-gate entries that collect the fact table to " +
      "a driver-side MemoryStream — by construction not a scale path; the batch twins " +
      "(windowed_events, sessionize_events, active_users, psi_drift, range_join_clicks, " +
      "filter_decision) carry the scale numbers"

  val ops: Seq[Op] = Seq(
    Op("stream_windowed_replay", windowedReplay _, Oracle(
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2"""),
      untimed = Some(ReplayLane)),
    Op("stream_sessionize_replay", sessionizeReplay _, Oracle(
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
         flagged AS (
           SELECT user_id, ms, value,
                  CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
                       THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC)),
         sess AS (
           SELECT user_id, ms, value,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM flagged)
         SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM sess GROUP BY user_id, sid"""),
      untimed = Some(ReplayLane)),
    Op("stream_dau_replay", dauReplay _, Oracle(
      """SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
                count(DISTINCT user_id) AS dau
         FROM events GROUP BY 1"""),
      untimed = Some(ReplayLane)),
    Op("stream_psi_replay", psiReplay _, Oracle {
      val terms = (0 until 10).map { i =>
        s"(((c$i + 0.5) / (n + 5.0)) - q$i) * ln(((c$i + 0.5) / (n + 5.0)) / q$i)"
      }.mkString(" + ")
      val baseCs = (0 until 10).map(i =>
        s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i").mkString(", ")
      val baseQs = (0 until 10).map(i =>
        s"(c$i + 0.5) / (bn + 5.0) AS q$i").mkString(", ")
      val winCs = (0 until 10).map(i =>
        s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i").mkString(", ")
      s"""WITH b AS (SELECT event_type, value FROM events
                     WHERE ts < TIMESTAMP '$PsiCut'),
         rng AS (SELECT event_type, min(value) AS vmn, max(value) AS vmx,
                        count(*) AS bn
                 FROM b GROUP BY 1),
         bb AS (SELECT b.event_type,
                       CASE WHEN vmx > vmn THEN least(9,
                         CAST(floor((value - vmn) / (vmx - vmn) * 10) AS INT))
                       ELSE 0 END AS bin
                FROM b JOIN rng USING (event_type)),
         bc AS (SELECT event_type, $baseCs FROM bb GROUP BY 1),
         q AS (SELECT bc.event_type, vmn, vmx, $baseQs
               FROM bc JOIN rng USING (event_type)),
         wb AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
                       e.event_type,
                       CASE WHEN vmx > vmn THEN least(9,
                         CAST(floor((value - vmn) / (vmx - vmn) * 10) AS INT))
                       ELSE 0 END AS bin
                FROM events e JOIN q ON e.event_type = q.event_type),
         wc AS (SELECT window_start_us, event_type, count(*) AS n, $winCs
                FROM wb GROUP BY 1, 2)
         SELECT window_start_us, wc.event_type, n, round($terms, 6) AS psi
         FROM wc JOIN q ON wc.event_type = q.event_type"""
    },
      untimed = Some(ReplayLane)),
    Op("stream_ingest_filter_replay", ingestFilterReplay _, Oracle(
      """WITH pri AS (
           SELECT source,
                  CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM documents) AS w
           FROM documents GROUP BY 1)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
                round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                      / length(text), 6) AS digit_ratio,
                round(w, 6) AS source_weight,
                (len(regexp_extract_all(text, '\S+')) >= 10
                 AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                     / length(text) <= 0.3
                 AND coalesce(w, 1.0) >= 0.2) AS keep
         FROM documents JOIN pri USING (source)"""),
      untimed = Some(ReplayLane)),
    Op("stream_click_attribution_replay", clickAttributionReplay _, Oracle(
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
                epoch_us(c.ts) AS c_ts_us, c.value AS c_val
         FROM events p JOIN events c ON c.user_id = p.user_id
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
           AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts"""),
      untimed = Some(ReplayLane)),
    Op("stream_funnel_replay", funnelReplay _, RowsOnly("Deterministic under the " +
      "ordered feed, but the per-user automaton has no clean SQL twin — declared " +
      "rows-only (the text_compression precedent)."),
      untimed = Some(ReplayLane)),
    Op("stream_neardup_replay", nearDupReplay _, RowsOnly("docs sharing a band key " +
      "inside one micro-batch race for the claim (dropDuplicates keeps an arbitrary " +
      "one), so per-doc counts are not SQL-pinnable — the suite's StreamingSpec pins " +
      "the semantics on controlled input instead"),
      untimed = Some(ReplayLane)))
}
