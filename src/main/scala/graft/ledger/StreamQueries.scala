package graft
package ledger

import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream and window queries over `events`. */
private[graft] object StreamQueries {
  import Common._

  val all: Seq[QueryDef] = Seq(
    /** W1: ordered burn — first feature per pixel by (value desc, key asc).
      * The row_number window form sorts every partition's 600 k rows to keep
      * one row per pixel; the argmax aggregate (`max` over an ordered
      * struct, map-side combined) yields the identical row for a fraction of
      * the cost and survives 400-key parallelism limits. The general window
      * surface stays covered by w2. */
    QueryDef("w1_ordered_burn_rank", headline = true) { (s, d) =>
      // Two-phase argmax (round 20, VERDICT r19 #7): max(struct(...)) uses
      // a struct aggregation buffer, which HashAggregate cannot hold, so
      // Spark planned SortAggregate — a full per-partition sort of the
      // fact table ahead of the partial aggregate. Phase 1 takes the plain
      // per-pixel max(value) (hash-aggregated, map-side combined); phase 2
      // joins the 400-row max relation back (broadcast) and min-aggregates
      // the winning key. Identical rows: lexicographic max of
      // (value, -okey, -oline) outputs (max value, min okey among ties) —
      // the -oline leg never reached the output. Two hash aggregates +
      // one broadcast join, zero sorts, no value-bounds assumption.
      val base = li(s, d).select(
        (col("l_partkey") % 40).as("px"), (col("l_suppkey") % 10).as("py"),
        col("l_quantity").as("value"), col("l_orderkey"))
      val best = base.groupBy("px", "py").agg(max("value").as("value"))
      base.join(broadcast(best), Seq("px", "py", "value"))
        .groupBy("px", "py", "value")
        .agg(min("l_orderkey").as("l_orderkey"))
        .select("px", "py", "value", "l_orderkey")
        .orderBy("px", "py")
    } {
      """WITH r AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, l_quantity AS value, l_orderkey,
        |    row_number() OVER (PARTITION BY l_partkey % 40, l_suppkey % 10
        |                       ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC) AS rn
        |  FROM lineitem)
        |SELECT px, py, value, l_orderkey FROM r WHERE rn = 1 ORDER BY px, py""".stripMargin
    },

    /** W2: running sum per key (frame: unbounded preceding → current). */
    QueryDef("w2_running_sum") { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    } {
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin
    },

    /** W3: offset window functions — per-user deltas between consecutive
      * events (lag) and the session's first value (first_value). */
    QueryDef("w3_lag_delta") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .filter(col("user_id") < 100 && col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          round(col("value") - coalesce(lag("value", 1).over(w), lit(0.0)), 4).as("delta"),
          round(first("value").over(w), 4).as("first_v"))
        .orderBy("user_id", "event_id")
    } {
      """SELECT user_id, event_id,
        |  round(value - coalesce(lag(value, 1) OVER w, 0.0), 4) AS delta,
        |  round(first_value(value) OVER w, 4) AS first_v
        |FROM events WHERE user_id < 100 AND event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin
    },

    /** W5: event-time RANGE frame — trailing 1-hour per-user count and
      * integer sum. Unlike w2's ROWS frame, the frame bound is a VALUE
      * offset on the ordering key (epoch seconds), so frame width varies
      * per row with event density; peers at the same instant are all
      * in-frame by definition. Integer sum (floor) keeps the varying
      * accumulation order exact across engines; the DuckDB twin casts its
      * HUGEINT window sum back to BIGINT. */
    QueryDef("w5_range_frame") { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(floor(col("value")).cast("long")).over(w).as("sum_1h"))
        .orderBy("event_id")
    } {
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT) AS sum_1h
        |FROM events
        |WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin
    },

    /** ST1: event-time window aggregation (batch form of the streaming
      * surface; same plan shape under readStream + watermark). */
    QueryDef("st1_window_agg", headline = true) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour", "event_type")
    } {
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin
    },

    /** ST3: hopping (sliding) event-time windows — 1-hour windows every
      * 30 min, so each event lands in exactly duration/slide = 2 windows.
      * Spark's `window()` plans this as a 2-row Expand before the
      * aggregate (no self-join, no range join); the distinct-user count
      * adds the usual two-phase distinct aggregate. The streaming form is
      * the same expression under a watermark — this is its batch twin,
      * and the oracle pins the epoch-aligned bucket boundaries. */
    QueryDef("st3_hopping") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("n_users"))
        .orderBy("w_start", "event_type")
    } {
      // epoch-aligned 30-min buckets; each event expands to its bucket
      // and the one before (window [start, start+1h) covers both)
      """WITH e AS (
        |  SELECT TIMESTAMP '1970-01-01'
        |    + (CAST(floor(epoch(ts)) AS BIGINT) // 1800 * 1800)
        |      * INTERVAL 1 SECOND AS b,
        |    event_type, user_id FROM events),
        |w AS (
        |  SELECT unnest([b, b - INTERVAL 30 MINUTE]) AS w_start,
        |    event_type, user_id FROM e)
        |SELECT w_start, event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    /** ST4: dedup-on-ingest batch twin — first event per
      * (user, type, hour): the deterministic batch semantics of
      * [[graft.streaming.StreamJob.streamingDedup]]'s
      * dropDuplicatesWithinWatermark (key + bounded event-time horizon;
      * the hour bucket stands in for the watermark window, making
      * first-writer-wins replayable). The argmin is a struct-min — one
      * map-side-combined aggregate, no per-key sort. */
    QueryDef("st4_dedup_first") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(min(struct(col("ts"), col("event_id"))).as("__f"))
        .select(col("user_id"), col("event_type"), col("hour"),
          col("__f.ts").as("first_ts"), col("__f.event_id").as("first_event_id"))
        .orderBy("user_id", "event_type", "hour")
    } {
      """WITH r AS (SELECT user_id, event_type, date_trunc('hour', ts) AS hour,
        |    ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type, date_trunc('hour', ts)
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, hour, ts AS first_ts, event_id AS first_event_id
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type, hour""".stripMargin
    },

    /** ST2: sessionization — 30-min inactivity gap via lag + running sum
      * (the batch twin of flatMapGroupsWithState session windows). */
    QueryDef("st2_sessionize", headline = true) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val newSession = when(
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(byUser)) > 1800, 1)
        .when(lag("ts", 1).over(byUser).isNull, 1)
        .otherwise(0)
      Tables.events(s, d)
        .withColumn("new_s", newSession)
        .withColumn("session_id", sum("new_s").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    } {
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    /** Rolling (windowed) median — the robust smoother over each user's
      * last 5 observations (outlier-resistant trend lines, sensor
      * despiking). Spark has no native windowed median: collect the ROWS
      * frame, sort, take the LOWER median (element ⌈n/2⌉ — integer-exact
      * and engine-identical, unlike the interpolated even-n form). Frame
      * state is ≤ 5 values per row; the window is user-keyed. */
    QueryDef("w6_rolling_median") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v"))
        .withColumn("__fr", sort_array(collect_list("v").over(w)))
        .select(col("event_id"), col("user_id"), col("v"),
          element_at(col("__fr"),
            expr("CAST((size(__fr) + 1) div 2 AS INT)")).as("med5"))
        .orderBy("event_id")
    } {
      // frame-collect + lower median (element ⌈n/2⌉) — integer-exact
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(floor(value) AS BIGINT) AS v FROM events WHERE user_id < 20),
        |w AS (SELECT event_id, user_id, v,
        |    list_sort(list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr
        |  FROM e)
        |SELECT event_id, user_id, v, fr[CAST((len(fr) + 1) // 2 AS INT)] AS med5
        |FROM w ORDER BY event_id""".stripMargin
    },

    /** Latest-event-per-user materialized view — the BATCH twin of
      * [[graft.streaming.StreamJob.streamingLatest]]'s mapGroupsWithState
      * update stream: one struct-argmax per user, (ts, event_id)
      * tiebreak ⇒ order-independent, so stream and batch converge to the
      * identical view (StreamingSpec proves it). */
    QueryDef("st6_latest_event") { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("__m"))
        .select(col("user_id"), col("__m.ts").as("ts"),
          col("__m.event_id").as("event_id"), col("__m.event_type").as("event_type"))
        .orderBy("user_id")
    } {
      // one arg_max per user; (ts, event_id) tiebreak matches the
      // struct-max exactly
      """SELECT user_id, ts, event_id, event_type FROM (
        |  SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin
    },

    /** Within-stream near-dup verdicts — the BATCH twin of
      * [[graft.streaming.StreamJob.streamingNearDup]]'s stateful
      * (band, bucket)-keyed filter: every signed doc gets the smallest-id
      * EARLIER doc (doc_id = arrival order) sharing an LSH bucket and
      * agreeing on ≥3 of 4 minhash components, NULL = kept. In-order
      * streaming converges to this exact relation ON BUCKETS UNDER BOTH
      * CAPS (StreamingSpec, fuses disarmed); the degenerate-bucket fuses
      * themselves differ by design — this twin's `maxBucketSize` drops an
      * over-cap bucket wholesale, the streaming op's `maxReps` keeps the
      * newest 256 reps, because an online operator cannot know a bucket's
      * final size (ADVICE r17). */
    QueryDef("st7_stream_neardup") { (s, d) =>
      graft.operators.Dedup.nearDupVerdicts(Tables.documents(s, d),
          k = 4, rowsPerBand = 2, minMatch = 3, maxBucketSize = lshCap)
        .orderBy("doc_id")
    } {
      // Mirrors st7_stream_neardup / Dedup.nearDupVerdicts: the d3
      // bucket chain (same cap), then per candidate pair a 4-component
      // signature agreement count ≥ 3, min earlier doc per doc, every
      // signed doc kept with nullable dup_of.
      val simSum = (0 until 4).map(i =>
        s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
         |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1)),
         |p AS (SELECT DISTINCT a.doc_id AS cand, b2.doc_id AS doc_id
         |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
         |    AND a.doc_id < b2.doc_id),
         |q AS (SELECT p.doc_id, p.cand FROM p
         |  JOIN sigs sa ON sa.doc_id = p.cand
         |  JOIN sigs sb ON sb.doc_id = p.doc_id
         |  WHERE ($simSum) >= 3),
         |d AS (SELECT doc_id, min(cand) AS dup_of FROM q GROUP BY doc_id)
         |SELECT s.doc_id, d.dup_of FROM sigs s LEFT JOIN d USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin
    },

    /** The full rank-function family in one pass: rank/dense_rank/
      * percent_rank/cume_dist over a TIED ordering (coarse value buckets —
      * real peer groups) plus ntile/row_number over the unique tiebroken
      * ordering (ntile depends on physical row order, so it only
      * determinizes over a total order). One window sort per ordering. */
    QueryDef("w4_rank_family") { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id") < 10)
        .select(col("event_id"), col("event_type"),
          floor(col("value")).cast("long").as("bucket"))
      val wTies = Window.partitionBy("event_type").orderBy("bucket")
      val wUnique = Window.partitionBy("event_type").orderBy("bucket", "event_id")
      ev.select(col("event_id"), col("event_type"), col("bucket"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          round(percent_rank().over(wTies), 6).as("pct_rank"),
          round(cume_dist().over(wTies), 6).as("cume"),
          ntile(4).over(wUnique).as("quartile"),
          row_number().over(wUnique).as("rn"))
        .orderBy("event_id")
    } {
      """WITH ev AS (SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS bucket
        |           FROM events WHERE user_id < 10)
        |SELECT event_id, event_type, bucket,
        |  CAST(rank() OVER wt AS INT) AS rnk,
        |  CAST(dense_rank() OVER wt AS INT) AS drnk,
        |  round(percent_rank() OVER wt, 6) AS pct_rank,
        |  round(cume_dist() OVER wt, 6) AS cume,
        |  CAST(ntile(4) OVER wu AS INT) AS quartile,
        |  CAST(row_number() OVER wu AS INT) AS rn
        |FROM ev
        |WINDOW wt AS (PARTITION BY event_type ORDER BY bucket),
        |       wu AS (PARTITION BY event_type ORDER BY bucket, event_id)
        |ORDER BY event_id""".stripMargin
    },

    /** ST5: native session windows — `session_window(ts, 30 min)` is the
      * batch twin of [[graft.streaming.StreamJob.eventSessions]] (the SAME
      * expression runs under a watermark in streaming, where the gap
      * bounds state). Emits the actual merged windows (start, last+gap)
      * st2's lag/cumsum form only counts; microsecond-exact, so the
      * oracle's gaps-and-islands replay hashes identically. */
    QueryDef("st5_session_window", headline = true) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n_events"))
        .orderBy("user_id", "s_start")
    } {
      // gaps-and-islands at MICROSECOND precision: a new session starts at
      // gap >= 30 min (session_window merges only strictly-overlapping
      // [ts, ts+gap) windows); end = last event + gap
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS s_start,
        |  max(ts) + INTERVAL 30 MINUTE AS s_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin
    })
}
