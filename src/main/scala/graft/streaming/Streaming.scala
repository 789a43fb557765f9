package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.util.Det._

/** Structured Streaming surface over the events table.
  *
  * The reference has NO streaming (SURVEY §2.6) — this is part of the
  * beyond-reference pipeline surface: the same event analytics as
  * [[graft.data.Events]], expressed as streaming plans. At scale these run
  * against a real source (Kafka/files) with watermark-bounded state; here the
  * parquet table is replayed through the file source and drained with
  * processAllAvailable, so results are deterministic and hash-comparable to
  * the batch oracle — the streaming/batch parity IS the check.
  */
object Streaming {
  private val sinkCounter = new AtomicInteger(0)

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // The file streaming source requires an explicit schema; take it from the
    // batch reader so the stream tracks the driver's physical types (ts has
    // shipped as both ns-longs and TIMESTAMP(MICROS) across testdata
    // revisions), then normalize ts to ns-since-epoch longs exactly like the
    // batch path. Glob form: the source needs a directory or pattern, not a
    // bare file path.
    val schema = graft.util.ParquetMeta.schema(spark, s"$dir/events.parquet")
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
  }

  /** Run a finite streaming query to completion through a DISTRIBUTED sink:
    * foreachBatch writes each micro-batch to parquet on the executors —
    * Complete mode overwrites with the full snapshot, Append mode
    * accumulates — and the result is read back as a table. This is the
    * production sink shape (a driver-resident memory sink cannot hold a
    * 100 TB aggregate); processAllAvailable makes the replay finite. */
  private def drain(df: DataFrame, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val path = s"${sys.props("java.io.tmpdir")}/graft_stream_sink_" +
      sinkCounter.incrementAndGet()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val overwrite = mode == OutputMode.Complete()
    val q = df.writeStream.outputMode(mode)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode(if (overwrite) "overwrite" else "append").parquet(path)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(path)
  }

  /** Watermarked tumbling-window aggregation (streaming twin of ev_hourly). */
  def hourly(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(agg, OutputMode.Complete())
      .select(col("event_type"),
        col("window.start").cast("date").as("day"),
        hour(col("window.start")).cast("int").as("hour"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "day", "hour")
  }

  /** Append-mode watermarked window — the production output mode for an
    * unbounded pipeline: each window row is emitted exactly ONCE, when the
    * watermark (max event time − 1 h, ms granularity) passes the window end,
    * and state for it is dropped (bounded memory at 100 TB/day rates, unlike
    * Complete mode's full-snapshot state). On the finite replay the trailing
    * open windows are never emitted; the oracle applies the identical
    * closed-window cutoff, so the result stays hash-checkable. */
  def hourlyAppend(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(agg, OutputMode.Append())
      .select(col("event_type"),
        col("window.start").cast("date").as("day"),
        hour(col("window.start")).cast("int").as("hour"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "day", "hour")
  }

  /** Stream-static enrichment — the standard production join: a streaming
    * fact joined to a broadcast dimension (customer keyed by user_id), then
    * aggregated per (segment, event_type). The dim is read ONCE per
    * micro-batch planner cycle and broadcast — at 100 TB/day event rates the
    * join adds no shuffle and no state (unlike stream-stream joins); Complete
    * mode keeps the aggregate snapshot, which stays small (segments × types).
    */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(agg, OutputMode.Complete())
      .orderBy("c_mktsegment", "event_type")
  }

  /** Streaming deduplication — the pipeline-ingest building block:
    * dropDuplicatesWithinWatermark keys state on (user_id, event_type) and
    * drops it once the watermark passes, so memory stays bounded by the
    * key-arrival rate × watermark horizon (a plain dropDuplicates would
    * grow state forever on an unbounded stream). Only the key columns are
    * emitted: which physical row represents a key is batch-order dependent,
    * the key SET is not — that keeps the result hash-comparable to the
    * batch DISTINCT oracle. The trailing distinct() collapses re-emissions
    * of keys recurring beyond the watermark horizon (none on this replay,
    * but the read-back must not depend on that). */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame = {
    val st = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drain(st, OutputMode.Append()).distinct().orderBy("user_id", "event_type")
  }

  /** Native streaming session windows — session_window + watermark in Append
    * mode: the state store MERGES sessions per key as events arrive and emits
    * a session exactly once, when the watermark passes its end (last event +
    * gap), then drops its state — bounded memory at 100 TB/day rates, and the
    * dedicated operator for what sessionCounts builds manually with
    * flatMapGroupsWithState. Same 30-min-gap semantics as the batch
    * ev_session_window (boundary pinned there); the oracle replays the
    * watermark cutoff exactly like stream_hourly_append's. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    drain(agg, OutputMode.Append())
      .select(col("user_id"),
        expr("unix_micros(session_window.start) div 1000000").as("start_s"),
        expr("unix_micros(session_window.end) div 1000000").as("end_s"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_s")
  }

  /** Stream-stream inner join with event-time range bounds — click→purchase
    * attribution: each purchase is matched to the same user's clicks in the
    * preceding 30 minutes. BOTH sides are unbounded streams (a stream-static
    * join cannot express this), so this is the stateful-join shape: each
    * side's rows are buffered in the state store, and the watermark plus the
    * time-range predicate give Spark a provable horizon — a click older than
    * watermark − 30 min can never match a future purchase and its state is
    * dropped. That bound is what keeps join state finite at 100 TB/day; an
    * unconstrained stream-stream join would buffer the whole history. On the
    * finite single-batch replay no row is ever late, so the result equals the
    * batch join and stays hash-checkable. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    drain(joined, OutputMode.Append())
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000").as("gap_s"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  case class Ev(user_id: Long, event_id: Long, s: Long)
  case class UserSessions(user_id: Long, n_sessions: Long)

  /** Stateful sessionization via flatMapGroupsWithState (streaming twin of
    * ev_sessions' session counting): per-user state carries (last event sec,
    * session count) across batches; a >30min gap opens a new session. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("s"))
      .as[Ev]
    val counted = evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), UserSessions](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[(Long, Long)]) =>
          val (last0, n0) = state.getOption.getOrElse((Long.MinValue, 0L))
          var last = last0
          var n = n0
          it.toSeq.sortBy(e => (e.s, e.event_id)).foreach { e =>
            if (last == Long.MinValue || e.s - last > 1800) n += 1
            last = e.s
          }
          state.update((last, n))
          Iterator(UserSessions(uid, n))
      }
    drain(counted.toDF(), OutputMode.Append())
      .groupBy(col("user_id")).agg(max(col("n_sessions")).as("n_sessions"))
      .orderBy("user_id")
  }

  case class UserFunnel(user_id: Long, depth: Long, t1: Long, t2: Long, t3: Long)

  /** Stateful funnel via flatMapGroupsWithState (streaming twin of
    * ev_funnel): per-user state carries the (t1, t2, t3) step timestamps of
    * the strict-order view → click → purchase cascade. Within a batch the
    * group's events are processed in ts order, so the first view seen IS
    * the minimal view and each later step binds to the earliest qualifying
    * event — exactly the batch semantics; across batches the fold continues
    * from state under the same in-order-arrival contract as
    * [[sessionCounts]]. Snapshots are monotone (a step timestamp never
    * changes once set), so the final answer is a per-user max over the
    * emitted snapshots. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[(Long, String, Long)]
    val UNSET = -1L
    val snaps = evs.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), UserFunnel](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[(Long, Long, Long)]) =>
          var (t1, t2, t3) = state.getOption.getOrElse((UNSET, UNSET, UNSET))
          it.toSeq.sortBy(_._3).foreach { case (_, et, ts) =>
            if (et == "view" && t1 == UNSET) t1 = ts
            else if (et == "click" && t1 != UNSET && ts > t1 && t2 == UNSET) t2 = ts
            else if (et == "purchase" && t2 != UNSET && ts > t2 && t3 == UNSET) t3 = ts
          }
          state.update((t1, t2, t3))
          if (t1 == UNSET) Iterator.empty
          else Iterator(UserFunnel(uid,
            1L + (if (t2 != UNSET) 1L else 0L) + (if (t3 != UNSET) 1L else 0L),
            t1, t2, t3))
      }
    drain(snaps.toDF(), OutputMode.Append())
      .groupBy(col("user_id"))
      .agg(max(col("depth")).as("depth"), max(col("t1")).as("t1"),
        max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .orderBy("user_id")
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "stream_hourly" -> ((s, d) => hourly(s, d)),
    "stream_hourly_append" -> ((s, d) => hourlyAppend(s, d)),
    "stream_enrich" -> ((s, d) => enriched(s, d)),
    "stream_sessions" -> ((s, d) => sessionCounts(s, d)),
    "stream_session_window" -> ((s, d) => sessionWindows(s, d)),
    "stream_dedup" -> ((s, d) => dedupKeys(s, d)),
    "stream_attrib" -> ((s, d) => attribution(s, d)),
    "stream_funnel" -> ((s, d) => funnel(s, d))
  )

  /** Oracles are the BATCH semantics — checking streaming/batch parity. */
  val oracle: Map[String, String] = Map(
    "stream_hourly" ->
      """SELECT event_type,
                DATE '1970-01-01' + CAST(epoch_ns(ts) // 1000000000 // 86400 AS INTEGER) AS day,
                CAST(epoch_ns(ts) // 1000000000 % 86400 // 3600 AS INTEGER) AS hour,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2, 3 ORDER BY event_type, day, hour""",
    "stream_hourly_append" ->
      // Spark's watermark is max(event time)−delay at MILLISECOND granularity
      // (EventTimeStats tracks ms); a window emits in Append mode when its
      // end ≤ watermark. The cutoff below replays that rule exactly.
      """WITH e AS (SELECT event_type, value, epoch_ns(ts) // 1000 AS us FROM events),
              mx AS (SELECT max(us) AS max_us FROM e)
         SELECT event_type,
                DATE '1970-01-01' + CAST(us // 1000000 // 86400 AS INTEGER) AS day,
                CAST(us // 1000000 % 86400 // 3600 AS INTEGER) AS hour,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM e, mx
         WHERE (us // 3600000000 + 1) * 3600000000 <= (max_us // 1000) * 1000 - 3600000000
         GROUP BY 1, 2, 3 ORDER BY event_type, day, hour""",
    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""",
    "stream_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS s FROM events),
              m AS (SELECT user_id, s,
                           lag(s, 1) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
                    FROM e)
         SELECT user_id,
                CAST(sum(CASE WHEN prev_s IS NULL OR s - prev_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
         FROM m GROUP BY 1 ORDER BY user_id""",
    "stream_session_window" ->
      // batch sessionization (same gap>30min rule as ev_session_window) +
      // the Append-mode watermark cutoff: a session is emitted iff its end
      // (last event + gap) ≤ final watermark (ms-floored max event time − 1 h)
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
              mx AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
              m AS (SELECT user_id, us, value,
                           lag(us, 1) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
                    FROM e),
              mk AS (SELECT user_id, us, value,
                            CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
                     FROM m),
              sess AS (SELECT user_id, us, value,
                              sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                       FROM mk),
              agg AS (SELECT user_id,
                             min(us) // 1000000 AS start_s,
                             max(us) + 1800000000 AS end_us,
                             count(*) AS n_events,
                             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
                      FROM sess GROUP BY user_id, sid)
         SELECT user_id, start_s, end_us // 1000000 AS end_s, n_events, sum_value
         FROM agg, mx WHERE end_us <= wm_us
         ORDER BY user_id, start_s""",
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "stream_attrib" ->
      // batch twin of the watermarked stream-stream join: same µs-truncated
      // event times, same (0, 30 min] attribution window
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS c_us
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS p_us
                    FROM events WHERE event_type = 'purchase')
         SELECT c.user_id AS user_id, click_id, purchase_id,
                (p_us - c_us) // 1000000 AS gap_s
         FROM c JOIN p ON c.user_id = p.user_id
          AND p_us > c_us AND p_us <= c_us + 1800000000
         ORDER BY c.user_id, click_id, purchase_id""",
    "stream_funnel" ->
      // batch twin of the stateful funnel (ev_funnel semantics, -1 = unset)
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
              t1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
              t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
                     WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
              t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
         SELECT t1.user_id,
                CAST(1 + CAST(t2.t2 IS NOT NULL AS INTEGER) + CAST(t3.t3 IS NOT NULL AS INTEGER) AS BIGINT) AS depth,
                t1.t1 AS t1, coalesce(t2.t2, -1) AS t2, coalesce(t3.t3, -1) AS t3
         FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
                 LEFT JOIN t3 ON t1.user_id = t3.user_id
         ORDER BY t1.user_id"""
  )
}
