package graft
package ledger

import graft.core.Tables
import graft.functions.PortableHash
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics queries: sketches, rollups, funnels, drift and data
  * quality checks. */
private[graft] object AnalyticsQueries {
  import Common._

  // SCD2 dimension build shared by x15 itself and x31's PIT lookup
  private val x15Scd2Sql: String =
    """WITH snap AS (
        |  SELECT o_custkey AS custkey, o_orderdate AS d,
        |         arg_max(o_orderstatus, o_orderkey) AS status
        |  FROM orders GROUP BY 1, 2),
        |chg AS (
        |  SELECT custkey, d, status,
        |         lag(status) OVER (PARTITION BY custkey ORDER BY d) AS prev
        |  FROM snap),
        |ver AS (
        |  SELECT custkey, status, d AS valid_from FROM chg
        |  WHERE prev IS NULL OR status <> prev)
        |SELECT custkey, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to,
        |  (lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) IS NULL) AS is_current
        |FROM ver ORDER BY custkey, valid_from""".stripMargin

  val all: Seq[QueryDef] = Seq(
    /** UNPIVOT (melt) — the inverse of x8's pivot, proving the round trip:
      * the wide per-cohort count table folds back to (cohort, event_type,
      * n) rows. Spark plans `unpivot` as an Expand (one input row → five
      * output rows, no shuffle); the only exchanges are the pivot
      * aggregate's own. */
    QueryDef("x19_unpivot") { (s, d) =>
      val wide = Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
      wide.unpivot(
          Array(col("cohort")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "n")
        .orderBy("cohort", "event_type")
    } {
      // FILTERed counts build the same wide table x8 pivots to; UNPIVOT
      // folds it back — column names become the event_type values
      """WITH p AS (
        |  SELECT user_id % 10 AS cohort,
        |    count(*) FILTER (event_type = 'click') AS click,
        |    count(*) FILTER (event_type = 'error') AS error,
        |    count(*) FILTER (event_type = 'purchase') AS purchase,
        |    count(*) FILTER (event_type = 'signup') AS signup,
        |    count(*) FILTER (event_type = 'view') AS view
        |  FROM events GROUP BY 1)
        |SELECT cohort, event_type, n FROM p
        |UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
        |ORDER BY cohort, event_type""".stripMargin
    },

    /** Daily bounce rate — single-event sessions over all sessions (the
      * engagement-quality headline): st2's gaps-and-islands
      * sessionization (30-min gap), sessions keyed to the day they
      * START, bounce = 1-event session. Two window passes over ONE
      * user-keyed sort + a per-day fold; rate is one integer division. */
    QueryDef("x49_bounce_rate") { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val newSession = when(
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(byUser)) > 1800, 1)
        .when(lag("ts", 1).over(byUser).isNull, 1)
        .otherwise(0)
      Tables.events(s, d)
        .withColumn("new_s", newSession)
        .withColumn("session_id", sum("new_s").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(to_date(min("ts")).as("day"), count(lit(1)).as("__n"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .withColumn("bounce_micro", expr("n_bounce * 1000000 div n_sessions"))
        .orderBy("day")
    } {
      // st2's sessionization keyed to the start day; one division
      """WITH l AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        IS NULL THEN 1
        |      WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)) > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s2 AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM l),
        |sess AS (SELECT user_id, session_id, CAST(min(ts) AS DATE) AS day,
        |    count(*) AS n FROM s2 GROUP BY 1, 2)
        |SELECT day, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS bounce_micro
        |FROM sess GROUP BY day ORDER BY day""".stripMargin
    },

    /** Exact integer covariance/variance numerators per group — the
      * distributed one-pass sufficient-statistics form (n·Σxy − Σx·Σy =
      * n²·covar_pop): five map-side-combined sums, one exchange, zero
      * floats, so accumulation order can never perturb the result.
      * Price rides in integral hundreds to keep every product inside
      * BIGINT through sf1-class cardinalities; a 100 TB deployment lifts
      * the same expressions to DECIMAL(38,0) unchanged. */
    QueryDef("x21_covariance") { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") / 100).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("covar_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("varx_num"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("vary_num"))
        .orderBy("l_returnflag")
    } {
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS covar_num,
        |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS varx_num,
        |  CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS vary_num
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** Equal-frequency (quantile) binning of a numeric feature — the ML
      * preprocessing transform (decile features, WoE binning): 10 bins
      * whose boundaries are exact order statistics, each bin reporting
      * its value range and population. The global rank uses the x36
      * bucket-offset shape (range buckets + per-bucket windows +
      * broadcast cumulative offsets — never a single-partition window);
      * bin = (rank−1)·10 div n. Deterministic under ties (value, then
      * key), so bin populations are exact on both engines. */
    QueryDef("x42_quantile_binning") { (s, d) =>
      val v = li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val ranked = graft.operators.Ranks.globalRank(v, col("cents"),
        Seq(col("l_orderkey"), col("l_linenumber")), expr("cents div 100000"))
      val n = v.agg(count(lit(1)).as("__n"))
      ranked
        .crossJoin(broadcast(n))
        .withColumn("bin", expr("(__rank - 1) * 10 div __n"))
        .groupBy("bin")
        .agg(min("cents").as("lo_cents"), max("cents").as("hi_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy("bin")
    } {
      // equal-frequency bins from exact global ranks; the oracle's single
      // window replays the bucket-offset two-pass rank exactly
      """WITH v AS (SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS i,
        |    count(*) OVER () AS n FROM v)
        |SELECT CAST((i - 1) * 10 // n AS BIGINT) AS bin,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  count(*) AS n_rows
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin
    },

    /** Watermark-lateness audit — for each event, how far behind the
      * stream's high-water mark (max event time seen over earlier
      * ARRIVALS — event_id is the arrival order) it arrived, and what a
      * 1-hour watermark would therefore drop: the sizing analysis run
      * BEFORE picking a Structured Streaming watermark. The global
      * running max never uses a single-partition window — the x36/x42
      * bucket shape: per-bucket running maxes + a broadcast cumulative
      * bucket-prefix table. Integer seconds; first arrival is 0 late. */
    QueryDef("x45_watermark_audit") { (s, d) =>
      val ev = graft.core.Caching.shared(Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"),
          expr("event_id div 1000").as("__b")))
      val pre = ev.groupBy("__b").agg(max("ts").as("__bm"))
        .withColumn("__pre", max("__bm").over(Window.orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select("__b", "__pre")
      val wb = Window.partitionBy("__b").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.join(broadcast(pre), "__b")
        .withColumn("__hwm", greatest(
          coalesce(max("ts").over(wb), col("__pre"), col("ts")),
          coalesce(col("__pre"), col("ts"))))
        .withColumn("__late_sec",
          greatest(expr("(unix_micros(__hwm) - unix_micros(ts)) div 1000000"),
            lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("__late_sec") > 3600, 1L).otherwise(0L)).as("n_dropped_1h"),
          max("__late_sec").as("max_late_sec"))
        .orderBy("event_type")
    } {
      // single global running max over arrival order (the oracle may use
      // one window; the Spark side buckets it)
      """WITH h AS (SELECT event_type, ts,
        |    max(ts) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events),
        |l AS (SELECT event_type,
        |    CASE WHEN hwm IS NULL OR hwm <= ts THEN 0
        |      ELSE (epoch_us(hwm) - epoch_us(ts)) // 1000000 END AS late_sec
        |  FROM h)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_sec > 3600 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped_1h,
        |  CAST(max(late_sec) AS BIGINT) AS max_late_sec
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin
    },

    /** Pareto concentration (the 80/20 readout) — the minimal number of
      * top customers whose revenue reaches 80% of the total. Ranks
      * DESCEND via [[graft.operators.Ranks.globalRank]] on the negated
      * value (bucket stays monotone); the global running sum extends the
      * same two-pass shape — per-bucket window cumsums + a broadcast
      * cumulative bucket-sum prefix — so no single-partition window
      * appears at any size. The 80% compare is integer
      * cross-multiplication (5·cum ≥ 4·total). */
    QueryDef("x50_pareto") { (s, d) =>
      val rev = Tables.orders(s, d).groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("cents"))
        .withColumn("__neg", -col("cents"))
      val ranked = graft.core.Caching.shared(
        graft.operators.Ranks.globalRank(rev, col("__neg"),
          Seq(col("o_custkey")), expr("__neg div 1000000")))
      val bsums = ranked.groupBy(expr("__neg div 1000000").as("__sb"))
        .agg(sum("cents").as("__bs"))
        .withColumn("__pre", coalesce(
          sum("__bs").over(Window.orderBy("__sb")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("__sb", "__pre")
      val wb = Window.partitionBy(expr("__neg div 1000000"))
        .orderBy(col("__neg"), col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .join(broadcast(bsums), expr("__neg div 1000000") === col("__sb"))
        .withColumn("__cum", sum("cents").over(wb) + col("__pre"))
        .crossJoin(broadcast(ranked.agg(sum("cents").as("__tot"),
          count(lit(1)).as("__n"))))
        .agg(max("__n").as("n_customers"), max("__tot").as("total_cents"),
          min(when(col("__cum") * 5 >= col("__tot") * 4, col("__rank")))
            .as("k_80"))
    } {
      // descending rank + one window cumsum; 5·cum ≥ 4·total integer form
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
        |    sum(cents) OVER (ORDER BY cents DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot, count(*) AS n FROM rev)
        |SELECT t.n AS n_customers, t.tot AS total_cents,
        |  CAST(min(CASE WHEN r.cum * 5 >= t.tot * 4 THEN r.rnk END) AS BIGINT) AS k_80
        |FROM r, t GROUP BY t.n, t.tot""".stripMargin
    },

    /** Population-stability-index drift report — THE ML-monitoring
      * metric between a feature's two epochs: per-bin
      * (p_A − p_B)·ln(p_A/p_B) with add-one smoothing (zero-count bins
      * stay finite), fixed equal-width bins (the a4 histogram lattice in
      * cents, integer-div binning), epochs split at 1997-06-01. One
      * conditional aggregate computes both epoch counts; totals ride as
      * a 1-row broadcast; PSI = Σ of the per-bin column. Smoothed
      * probabilities are single exact-int divisions evaluated once in
      * IEEE doubles — deterministic cross-engine (the bm25 float
      * discipline). */
    QueryDef("x44_psi_drift") { (s, d) =>
      val split = "1997-06-01"
      val lo = 90000L; val w = 1041000L // 10 bins over [0.9k, 105k] dollars
      val cnt = li(s, d).select(
          (col("l_shipdate") < lit(split)).as("__a"),
          least(greatest(
            expr(s"(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) - $lo) div $w"),
            lit(0L)), lit(9L)).as("bin"))
        .groupBy("bin").agg(
          sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
      val tot = cnt.agg(sum("n_a").as("__na"), sum("n_b").as("__nb"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("__pa", (col("n_a") + 1).cast("double") / (col("__na") + 10))
        .withColumn("__pb", (col("n_b") + 1).cast("double") / (col("__nb") + 10))
        .select(col("bin"), col("n_a"), col("n_b"),
          floor((col("__pa") - col("__pb")) * log(col("__pa") / col("__pb"))
            * 1e6 + 0.5).cast("long").as("psi_term_micro"))
        .orderBy("bin")
    } {
      // per-bin smoothed (pA − pB)·ln(pA/pB), epochs split mid-1997
      """WITH b AS (SELECT l_shipdate < TIMESTAMP '1997-06-01' AS a,
        |    least(greatest((CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      - 90000) // 1041000, 0), 9) AS bin
        |  FROM lineitem),
        |cnt AS (SELECT bin,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(n_a) AS na, sum(n_b) AS nb FROM cnt)
        |SELECT bin, n_a, n_b,
        |  CAST(floor(((n_a + 1) * 1.0 / (na + 10) - (n_b + 1) * 1.0 / (nb + 10))
        |    * ln(((n_a + 1) * 1.0 / (na + 10)) / ((n_b + 1) * 1.0 / (nb + 10)))
        |    * 1e6 + 0.5) AS BIGINT) AS psi_term_micro
        |FROM cnt, tot ORDER BY bin""".stripMargin
    },

    /** Gini coefficient of per-customer revenue — the inequality/skew
      * diagnostic (applied to tokens-per-source it measures corpus
      * concentration; here revenue concentration). Exact integers: cent
      * revenue, G = (2Σi·xᵢ − (n+1)Σx)/(n·Σx) over the ascending rank i.
      * The GLOBAL rank never uses a single-partition window: values
      * bucket by range (monotone in the value), ranks are per-bucket
      * windows plus cumulative bucket offsets — the two-pass
      * zipWithIndex shape, declaratively; the offset table is |buckets|
      * rows and broadcasts. The final division lifts to DECIMAL(38)
      * (numerator ≈ 2·Σi·x·10⁶ exceeds 2⁶³ by design). */
    QueryDef("x36_gini", headline = true) { (s, d) =>
      val rev = Tables.orders(s, d).groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("cents"))
      graft.operators.Ranks.globalRank(rev, col("cents"), Seq(col("o_custkey")),
          expr("cents div 1000000"))
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
          sum(col("__rank") * col("cents")).as("__s2"))
        .withColumn("__num",
          (col("__s2").cast("decimal(38,0)") * 2 -
            (col("n") + 1) * col("total_cents").cast("decimal(38,0)")) * lit(1000000L))
        .withColumn("__den", col("n") * col("total_cents").cast("decimal(38,0)"))
        .select(col("n"), col("total_cents"),
          when(col("__den") === 0, 0L)
            .otherwise(expr("__num div __den")).as("gini_micro"))
    } {
      // ascending-rank Gini; the oracle's single window replays the
      // Spark side's bucket-offset two-pass rank exactly
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM rev),
        |a AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
        |    CAST(sum(i * cents) AS HUGEINT) AS s2 FROM r)
        |SELECT n, total_cents,
        |  CAST(CASE WHEN n * total_cents = 0 THEN 0
        |    ELSE ((2 * s2 - (CAST(n AS HUGEINT) + 1) * total_cents) * 1000000)
        |      // (CAST(n AS HUGEINT) * total_cents) END AS BIGINT) AS gini_micro
        |FROM a""".stripMargin
    },

    /** Zone-map data skipping — the planning-time pruning a 100 TB scan
      * lives on: per-bucket min/max statistics (the parquet row-group /
      * Iceberg manifest shape) decide which buckets a date-range
      * predicate can touch; `n_match` proves soundness (pruned ⇒ zero
      * matching rows). The stats build is one map-side-combined
      * aggregate; the decision is a scalar comparison per bucket row. */
    QueryDef("x24_zonemap_prune") { (s, d) =>
      val lo = lit("1997-01-01")
      val hi = lit("1997-12-31")
      Tables.orders(s, d)
        .select(expr("o_orderkey div 1024").as("bucket"),
          col("o_orderdate"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderdate").as("min_date"), max("o_orderdate").as("max_date"),
          sum(when(col("o_orderdate") >= lo && col("o_orderdate") <= hi, 1L)
            .otherwise(0L)).as("n_match"))
        .select(col("bucket"), col("n_rows"), col("n_match"),
          (col("max_date") >= lo && col("min_date") <= hi).cast("int")
            .as("survives"))
        .orderBy("bucket")
    } {
      // per-bucket min/max stats decide survival; n_match proves pruned
      // buckets contain zero qualifying rows
      """SELECT o_orderkey // 1024 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |      AND o_orderdate <= TIMESTAMP '1997-12-31' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_match,
        |  CAST(max(o_orderdate) >= TIMESTAMP '1997-01-01'
        |    AND min(o_orderdate) <= TIMESTAMP '1997-12-31' AS INT) AS survives
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    /** HLL register table over the distinct-orderkey stream — the
      * oracle-checkable sibling of x1's opaque built-in sketch: portable
      * md5 hash, bin()-based rank arithmetic, 64 max-registers that
      * replay bit-for-bit in SQL. The float estimator stays driver-side
      * post-processing over these 64 integers. See
      * [[graft.operators.Sketch.hllRegisters]]. */
    QueryDef("x23_hll_registers") { (s, d) =>
      graft.operators.Sketch.hllRegisters(
        Tables.lineitem(s, d).select(col("l_orderkey").cast("string").as("k")),
        "k", m = 64)
        .orderBy("bucket")
    } {
      // the HLL state replays: same portable hash, same bucket/suffix
      // split, same bin()-length rank — both engines strip leading zeros
      """WITH hh AS (SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS h FROM lineitem),
        |r AS (SELECT h % 64 AS bucket, h // 64 AS sfx FROM hh),
        |k AS (SELECT bucket,
        |    CASE WHEN sfx = 0 THEN 27 ELSE 27 - length(bin(sfx)) END AS rank FROM r),
        |reg AS (SELECT bucket, max(rank) AS register FROM k GROUP BY 1)
        |SELECT t.bucket, CAST(coalesce(reg.register, 0) AS INT) AS register
        |FROM (SELECT unnest(range(0, 64)) AS bucket) t LEFT JOIN reg USING (bucket)
        |ORDER BY bucket""".stripMargin
    },

    /** HLL register MERGEABILITY, hash-proven — per-returnflag register
      * tables max-merge into exactly the whole-corpus register table:
      * the property that lets a lake keep per-partition sketches and
      * answer any union cardinality without rescanning. The per-group
      * build costs the same two jobs as one sketch (the group key rides
      * in the aggregate); the merge is a 64·|groups|-row fold. See
      * [[graft.operators.Sketch.hllRegistersBy]]. */
    QueryDef("x40_hll_merge") { (s, d) =>
      val src = graft.core.Caching.shared(li(s, d)
        .select(col("l_returnflag").as("grp"),
          col("l_orderkey").cast("string").as("k")))
      val merged = graft.operators.Sketch.hllRegistersBy(src, "grp", "k", m = 64)
        .groupBy("bucket").agg(max("register").as("merged_register"))
      graft.operators.Sketch.hllRegisters(src.select("k"), "k", m = 64)
        .withColumnRenamed("register", "global_register")
        .join(merged, Seq("bucket"), "left")
        .na.fill(0, Seq("merged_register"))
        .orderBy("bucket")
    } {
      // per-group registers max-merge ≡ the global register table
      """WITH hh AS (SELECT l_returnflag AS grp,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS h FROM lineitem),
        |r AS (SELECT grp, h % 64 AS bucket, h // 64 AS sfx FROM hh),
        |k AS (SELECT grp, bucket,
        |    CASE WHEN sfx = 0 THEN 27 ELSE 27 - length(bin(sfx)) END AS rank FROM r),
        |per AS (SELECT grp, bucket, max(rank) AS register FROM k GROUP BY 1, 2),
        |merged AS (SELECT bucket, max(register) AS merged_register
        |  FROM per GROUP BY 1),
        |whole AS (SELECT bucket, max(rank) AS register FROM k GROUP BY 1)
        |SELECT t.bucket,
        |  CAST(coalesce(whole.register, 0) AS INT) AS global_register,
        |  CAST(coalesce(merged.merged_register, 0) AS INT) AS merged_register
        |FROM (SELECT unnest(range(0, 64)) AS bucket) t
        |LEFT JOIN whole USING (bucket) LEFT JOIN merged USING (bucket)
        |ORDER BY bucket""".stripMargin
    },

    /** Consecutive-duplicate collapse (debounce) — the event-stream
      * hygiene pass that drops an event repeating its user's immediately
      * previous type (double-click/retry noise) before any funnel or
      * transition analysis. One user-keyed window (lag compare), then a
      * per-user census. */
    QueryDef("x41_debounce") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("__prev", lag("event_type", 1).over(w))
        .withColumn("__keep",
          when(col("__prev").isNull || col("__prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("__keep").as("n_kept"))
        .orderBy("user_id")
    } {
      // lag compare per user; census of kept vs raw
      """WITH l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    /** Small-file compaction planning over a synthetic file catalog
      * (deterministic pseudo-sizes from the part table): sequential
      * greedy packing into 64 KB rewrite bins, one window cumsum per
      * partition directory — the lakehouse maintenance work list. See
      * [[graft.operators.Compaction]]. */
    QueryDef("x22_compaction_plan", headline = true) { (s, d) =>
      val files = Tables.part(s, d).select(
        col("p_brand").as("dir"), col("p_partkey").as("file"),
        (col("p_size") * 1000 + col("p_partkey") % 977).cast("long").as("bytes"))
      graft.operators.Compaction.plan(files, targetBytes = 64000L)
        .orderBy("dir", "bin")
    } {
      // sequential greedy packing: bin = running-bytes-before // target,
      // per directory in file order — pure integer, window cumsum replays
      """WITH f AS (SELECT p_brand AS dir, p_partkey AS file,
        |    CAST(p_size * 1000 + p_partkey % 977 AS BIGINT) AS bytes FROM part),
        |b AS (SELECT dir, file, bytes,
        |    coalesce(sum(bytes) OVER (PARTITION BY dir ORDER BY file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM f)
        |SELECT dir, CAST(cum_before // 64000 AS BIGINT) AS bin,
        |  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  CAST(count(*) > 1 AS INT) AS needs_rewrite
        |FROM b GROUP BY 1, 2 ORDER BY dir, bin""".stripMargin
    },

    /** New-vs-returning daily split — each day's actives partitioned by
      * whether this is their FIRST day ever (the acquisition/retention
      * headline every growth dashboard opens with). First-seen day is
      * one user-keyed argmin; the daily census joins presence against
      * it user-keyed — co-partitioned at scale. */
    QueryDef("x48_new_vs_returning") { (s, d) =>
      val pres = graft.core.Caching.shared(Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
      val first = pres.groupBy("user_id").agg(min("day").as("__first"))
      pres.join(first, "user_id")
        .groupBy("day")
        .agg(sum(when(col("day") === col("__first"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") =!= col("__first"), 1L).otherwise(0L)).as("n_returning"))
        .orderBy("day")
    } {
      // first-seen argmin + user-keyed presence join
      """WITH pres AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS fd FROM pres GROUP BY 1)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN day <> fd THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM pres JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin
    },

    /** Approx distinct (HLL) from the PORTABLE register table — the raw
      * Flajolet estimator α·m²/Σ2^(−M_j) evaluated in EXACT integer
      * arithmetic over [[graft.operators.Sketch.hllRegistersBy]]'s m=64
      * registers (α_64 = 0.709 as the rational 709/1000; Σ2^(−M_j)
      * cleared by the common denominator 2²⁷, so z_num ≤ 64·2²⁷ and the
      * quotient 709·m²·2²⁷ div (1000·z_num) is one positive BIGINT floor
      * division — replayable bit-for-bit in SQL, unlike the opaque
      * built-in `approx_count_distinct`). The exact distinct rides along
      * for drift eyeballing. n_zero_registers is the linear-counting
      * trigger input (V); at this cardinality V=0 and the raw path is the
      * published estimator, no float ln anywhere. */
    QueryDef("x1_approx_distinct") { (s, d) =>
      val src = graft.core.Caching.shared(li(s, d)
        .select(col("l_returnflag").as("grp"),
          col("l_partkey").cast("string").as("k")))
      val regs = graft.operators.Sketch.hllRegistersBy(src, "grp", "k", m = 64)
      // zero-fill the grid: |groups|·64 rows, broadcast-sized both sides
      val grid = src.select("grp").distinct()
        .crossJoin(s.range(64).select(col("id").as("bucket")))
      val est = grid.join(regs, Seq("grp", "bucket"), "left")
        .select(col("grp"), coalesce(col("register"), lit(0)).as("register"))
        .groupBy("grp")
        .agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - register AS INT))"))
            .as("z_num"),
          sum(when(col("register") === 0, 1L).otherwise(0L))
            .as("n_zero_registers"))
        // 709 · 64² · 2²⁷ = 389,776,872,046,592 — fits BIGINT with room
        .select(col("grp"),
          expr("389776872046592 div (1000 * z_num)").as("hll_est"),
          col("n_zero_registers"))
      val exact = src.groupBy("grp").agg(countDistinct("k").as("exact_parts"))
      est.join(exact, Seq("grp"))
        .select(col("grp").as("l_returnflag"), col("hll_est"),
          col("n_zero_registers"), col("exact_parts"))
        .orderBy("l_returnflag")
    } {
      // the raw HLL estimator over the portable register table: Σ2^(−M_j)
      // cleared by 2²⁷ (z_num), then one positive BIGINT floor division
      // 709·m²·2²⁷ // (1000·z_num) — α_64 = 709/1000 kept rational
      """WITH hh AS (SELECT l_returnflag AS grp,
        |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS h, l_partkey FROM lineitem),
        |r AS (SELECT grp, h % 64 AS bucket, h // 64 AS sfx FROM hh),
        |k AS (SELECT grp, bucket,
        |    CASE WHEN sfx = 0 THEN 27 ELSE 27 - length(bin(sfx)) END AS rank FROM r),
        |reg AS (SELECT grp, bucket, max(rank) AS register FROM k GROUP BY 1, 2),
        |grid AS (SELECT g.grp, t.bucket FROM (SELECT DISTINCT grp FROM hh) g,
        |    (SELECT unnest(range(0, 64)) AS bucket) t),
        |filled AS (SELECT grid.grp,
        |    CAST(coalesce(reg.register, 0) AS INT) AS register
        |  FROM grid LEFT JOIN reg ON reg.grp = grid.grp AND reg.bucket = grid.bucket),
        |z AS (SELECT grp,
        |    CAST(sum(CAST(1 AS BIGINT) << (27 - register)) AS BIGINT) AS z_num,
        |    CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_registers
        |  FROM filled GROUP BY 1),
        |ex AS (SELECT grp, count(DISTINCT l_partkey) AS exact_parts FROM hh GROUP BY 1)
        |SELECT z.grp AS l_returnflag,
        |  CAST(389776872046592 // (1000 * z_num) AS BIGINT) AS hll_est,
        |  n_zero_registers, CAST(exact_parts AS BIGINT) AS exact_parts
        |FROM z JOIN ex ON ex.grp = z.grp ORDER BY l_returnflag""".stripMargin
    },

    /** Salted two-phase rasterize-count: must equal the plain A1 aggregate
      * (the skew-mitigation path, verified against the unsalted oracle). */
    QueryDef("x2_salted_rasterize") { (s, d) =>
      graft.operators.Skew.saltedCount(pixels(s, d), Seq("px", "py"), saltBuckets = 16)
        .orderBy("px", "py")
    } {
      """SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, count(*) AS value
        |FROM lineitem GROUP BY 1, 2 ORDER BY px, py""".stripMargin
    },

    /** ROLLUP aggregation (grouping-sets family). */
    QueryDef("x3_rollup") { (s, d) =>
      li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    } {
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin
    },

    /** Rank-over-rollup (the TPC-DS Q67 shape): cent-exact revenue per
      * (shipmode, returnflag) ROLLUP level, then the top 3 WITHIN each
      * aggregation level — one aggregate pass + one window over the
      * |groups|-sized rollup output (the window never sees fact rows).
      * Levels derive from nullness (both columns non-null in the data)
      * and sentinel-coalesce to 'ALL' so set identity crosses engines
      * without grouping_id bit-order assumptions. */
    QueryDef("x37_rollup_topk") { (s, d) =>
      val agg = li(s, d)
        .withColumn("shipyear", year(col("l_shipdate")).cast("long"))
        .rollup("shipyear", "l_returnflag")
        .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("rev_cents"))
        .withColumn("lvl",
          when(col("shipyear").isNull && col("l_returnflag").isNull, 2L)
            .when(col("l_returnflag").isNull, 1L).otherwise(0L))
        .select(col("lvl"), coalesce(col("shipyear"), lit(-1L)).as("shipyear"),
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"), col("rev_cents"))
      agg
        .withColumn("rank", row_number().over(
          Window.partitionBy("lvl")
            .orderBy(col("rev_cents").desc, col("shipyear"), col("returnflag"))))
        .filter(col("rank") <= 3)
        .orderBy("lvl", "rank")
    } {
      // rank within each rollup level over the |groups|-sized aggregate;
      // nullness-derived levels, 'ALL' sentinels (x3 discipline)
      """WITH agg AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS shipyear0, l_returnflag,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY ROLLUP (shipyear0, l_returnflag)),
        |lv AS (SELECT CASE WHEN shipyear0 IS NULL AND l_returnflag IS NULL THEN 2
        |      WHEN l_returnflag IS NULL THEN 1 ELSE 0 END AS lvl,
        |    coalesce(shipyear0, -1) AS shipyear,
        |    coalesce(l_returnflag, 'ALL') AS returnflag, rev_cents FROM agg)
        |SELECT lvl, shipyear, returnflag, rev_cents,
        |  CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lvl
        |    ORDER BY rev_cents DESC, shipyear, returnflag) AS rank FROM lv)
        |WHERE rank <= 3 ORDER BY lvl, rank""".stripMargin
    },

    /** Exact distributed percentiles (sort-based aggregate; the shape of
      * the reference's per-band statistics taken to quantiles). Linear
      * interpolation matches DuckDB's quantile_cont; epsilon-guarded
      * rounding as in q1/j5. */
    QueryDef("x6_percentile") { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.25)") + lit(5e-7), 4).as("p25"),
          round(expr("percentile(value, 0.5)") + lit(5e-7), 4).as("p50"),
          round(expr("percentile(value, 0.75)") + lit(5e-7), 4).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    } {
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25) + 5e-7, 4) AS p25,
        |  round(quantile_cont(value, 0.5) + 5e-7, 4) AS p50,
        |  round(quantile_cont(value, 0.75) + 5e-7, 4) AS p75,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    /** Fixed-grid approximate quantiles per event type — the mergeable
      * histogram-sketch shape a 100 TB percentile actually runs (x6's
      * exact `percentile()` holds every value per group in memory).
      * Deterministic: the estimate is a pure IEEE function of exact bucket
      * counts and per-group min/max, so the oracle replays it bit-for-bit.
      * See [[graft.operators.Sketch.gridQuantiles]]. */
    QueryDef("x20_approx_quantile", headline = true) { (s, d) =>
      graft.operators.Sketch.gridQuantiles(
          Tables.events(s, d), "value", "event_type", buckets = 128)
        .orderBy("event_type")
    } {
      // fixed-grid histogram quantile: the estimate is a pure IEEE function
      // of exact bucket counts and per-group min/max — every arithmetic
      // step below mirrors the Spark expression order exactly
      def est(qn: Int) =
        s"""max(CASE WHEN cum >= ceil(n * $qn / 4) AND cum - cnt < ceil(n * $qn / 4)
           |  THEN lo + (bb + CAST(ceil(n * $qn / 4) - (cum - cnt) AS DOUBLE) / cnt)
           |    * ((hi - lo) / 128) END)""".stripMargin
      s"""WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi,
         |             count(*) AS n FROM events GROUP BY 1),
         |bin AS (SELECT e.event_type,
         |    CASE WHEN b.hi = b.lo THEN 0
         |         ELSE CAST(least(floor((e.value - b.lo) / (b.hi - b.lo) * 128), 127) AS INT)
         |    END AS bb
         |  FROM events e JOIN b USING (event_type)),
         |h AS (SELECT event_type, bb, count(*) AS cnt FROM bin GROUP BY 1, 2),
         |c AS (SELECT event_type, bb, cnt,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bb) AS cum FROM h),
         |j AS (SELECT c.*, b.lo, b.hi, b.n FROM c JOIN b USING (event_type))
         |SELECT event_type,
         |  CAST(floor(${est(1)} * 1000 + 0.5) AS BIGINT) AS q25_milli,
         |  CAST(floor(${est(2)} * 1000 + 0.5) AS BIGINT) AS q50_milli,
         |  CAST(floor(${est(3)} * 1000 + 0.5) AS BIGINT) AS q75_milli,
         |  n
         |FROM j GROUP BY event_type, n ORDER BY event_type""".stripMargin
    },

    /** Interval-containment join via bucketization (RangeJoin): follow-on
      * clicks within one hour of each view, per user — the equi-join-on-bin
      * form of what a raw BETWEEN predicate would plan as an O(n²) nested
      * loop. */
    QueryDef("x7_interval_join") { (s, d) =>
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      graft.operators.RangeJoin
        .intervalJoin(views, clicks, Seq("user_id"),
          "w_start", "w_end", "click_ts", binWidthSec = 3600)
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    } {
      """SELECT a.event_id, count(*) AS n_clicks
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.event_type = 'click'
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** Correlated-subquery shape: parts priced above their brand average. */
    QueryDef("x4_correlated_sub") { (s, d) =>
      val p = Tables.part(s, d)
      val brandAvg = p.groupBy("p_brand").agg(avg("p_retailprice").as("brand_avg"))
      p.join(brandAvg, "p_brand")
        .filter(col("p_retailprice") > col("brand_avg"))
        .select(col("p_partkey"), col("p_brand"), round(col("p_retailprice"), 2).as("price"))
        .orderBy("p_partkey")
    } {
      """SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price FROM part p
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part b WHERE b.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin
    },

    /** Time-bucket gap fill (resample): per-user hourly event counts with
      * ZERO rows for silent hours — the time-series twin of K4's padding
      * semantics. The hour spine generates per key from its own min/max
      * (`sequence` + `explode`, no driver loop, no global calendar), so a
      * key's row count is bounded by its own activity span. */
    QueryDef("x9_gap_fill") { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      val counts = ev.groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      val spine = ev.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      spine.join(counts, Seq("user_id", "h"), "left")
        .na.fill(0, Seq("n"))
        .orderBy("user_id", "h")
    } {
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h FROM events WHERE user_id < 50),
        |c AS (SELECT user_id, h, count(*) AS n FROM ev GROUP BY 1, 2),
        |s AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM s)
        |SELECT spine.user_id, spine.h, coalesce(c.n, 0) AS n
        |FROM spine LEFT JOIN c USING (user_id, h)
        |ORDER BY 1, 2""".stripMargin
    },

    /** Funnel: view → click → purchase with a 24 h per-step conversion
      * window; first-touch anchors, strictly-increasing timestamps. All
      * shuffles keyed on user_id (see [[graft.operators.Funnel]]). */
    QueryDef("x10_funnel", headline = true) { (s, d) =>
      graft.operators.Funnel.counts(Tables.events(s, d),
          stages = Seq("view", "click", "purchase"), withinSeconds = 86400L)
        .orderBy("stage_idx")
    } {
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 86400 SECOND
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT stage_idx, stage, n_entities FROM (
        |  SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
        |         CAST(count(*) AS BIGINT) AS n_entities FROM s1
        |  UNION ALL SELECT CAST(2 AS INT), 'click', CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT CAST(3 AS INT), 'purchase', CAST(count(*) AS BIGINT) FROM s3)
        |ORDER BY stage_idx""".stripMargin
    },

    /** Cohort retention: cohort = calendar day of each user's first event;
      * n_users = distinct users of that cohort active again `day_offset`
      * days later. Two aggregates and one user-keyed join — the cohort
      * relation is user-cardinality, never event-cardinality; the day is
      * projected once so the distinct is over (user, cohort, offset)
      * triples. Cohort serializes as VARCHAR so the driver hash never
      * rides on engine DATE encodings. */
    QueryDef("x11_retention") { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort"))
      ev.join(cohorts, "user_id")
        .select(col("user_id"), col("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"))
        .distinct()
        .groupBy("cohort", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort").cast("string").as("cohort"),
          col("day_offset").cast("int").as("day_offset"), col("n_users"))
        .orderBy("cohort", "day_offset")
    } {
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
        |act AS (SELECT DISTINCT ev.user_id, c.cohort,
        |               datediff('day', c.cohort, ev.day) AS day_offset
        |        FROM ev JOIN c ON ev.user_id = c.user_id)
        |SELECT CAST(cohort AS VARCHAR) AS cohort,
        |       CAST(day_offset AS INT) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM act GROUP BY cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin
    },

    /** CUBE: all 2^2 grouping combinations over (returnflag, linestatus)
      * in ONE aggregate pass (Catalyst expands the grouping sets map-side;
      * no union of four scans). Rollup-null cells surface as 'ALL' so the
      * oracle never compares engine NULL orderings; the grouping id
      * disambiguates a genuine 'ALL' value from a rolled-up one.
      * l_quantity values are integral doubles, so the BIGINT-cast sum is
      * exact in any accumulation order. */
    QueryDef("x12_cube") { (s, d) =>
      li(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy("gid", "rf", "ls")
    } {
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin
    },

    /** MERGE upsert: a deterministic update batch (changed rows, identical
      * re-deliveries, fresh inserts) applied to the corpus in one
      * full-outer join — see [[graft.operators.Merge.upsert]]. */
    QueryDef("x13_upsert") { (s, d) =>
      val t = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val batch = t.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 7)
        .unionAll(t.filter(col("doc_id") % 10 === 1))
        .unionAll(t.filter(col("doc_id") % 17 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.operators.Merge.upsert(t, batch, "doc_id", Seq("source", "n_chars"))
        .orderBy("doc_id")
    } {
      """WITH t AS (SELECT doc_id, source, n_chars FROM documents),
        |s AS (
        |  SELECT doc_id, source, n_chars + 7 AS n_chars FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 1000000, source, n_chars FROM documents WHERE doc_id % 17 = 0)
        |SELECT coalesce(s.doc_id, t.doc_id) AS doc_id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.source ELSE t.source END AS source,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars ELSE t.n_chars END AS n_chars,
        |  CASE WHEN t.doc_id IS NULL THEN 'inserted'
        |       WHEN s.doc_id IS NULL THEN 'kept'
        |       WHEN s.source IS DISTINCT FROM t.source
        |         OR s.n_chars IS DISTINCT FROM t.n_chars THEN 'updated'
        |       ELSE 'unchanged' END AS action
        |FROM t FULL OUTER JOIN s ON t.doc_id = s.doc_id
        |ORDER BY doc_id""".stripMargin
    },

    /** Full-CRUD CDC apply — the Debezium-feed step x13's upsert can't
      * express: a pre-compacted I/U/D batch applied in ONE full-outer
      * join (deletes are a filter on the joined relation, not a second
      * anti-join pass). See [[graft.operators.Merge.applyChanges]]. */
    QueryDef("x35_cdc_apply") { (s, d) =>
      val t = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val changes = t.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("source"), col("n_chars"), lit("D").as("op"))
        .unionAll(t.filter(col("doc_id") % 10 === 1)
          .select(col("doc_id"), col("source"),
            (col("n_chars") + 11).as("n_chars"), lit("U").as("op")))
        .unionAll(t.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
            col("n_chars"), lit("I").as("op")))
      graft.operators.Merge.applyChanges(t, changes, "doc_id",
        Seq("source", "n_chars")).orderBy("doc_id")
    } {
      // full-outer CRUD apply: D filters the joined relation, I/U take
      // the change row entirely, absent keys keep the target row
      """WITH t AS (SELECT doc_id, source AS t_source, n_chars AS t_n,
        |    true AS t_p FROM documents),
        |ch AS (
        |  SELECT doc_id, source AS c_source, n_chars AS c_n, 'D' AS op,
        |      true AS c_p FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, source, n_chars + 11, 'U', true
        |    FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, n_chars, 'I', true
        |    FROM documents WHERE doc_id % 17 = 0),
        |j AS (SELECT * FROM t FULL JOIN ch USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN c_p THEN c_source ELSE t_source END AS source,
        |  CASE WHEN c_p THEN c_n ELSE t_n END AS n_chars,
        |  CASE WHEN t_p IS NULL THEN 'inserted'
        |       WHEN c_p IS NULL THEN 'kept' ELSE 'updated' END AS action
        |FROM j WHERE coalesce(op, '') <> 'D'
        |ORDER BY doc_id""".stripMargin
    },

    /** Snapshot diff (CDC): removals, in-place changes, and additions
      * between two corpus versions as a delta-sized report — see
      * [[graft.operators.Merge.diff]]. */
    QueryDef("x14_snapshot_diff") { (s, d) =>
      val old = Tables.documents(s, d).select("doc_id", "n_chars")
      val nw = old.filter(col("doc_id") % 13 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 10 === 0, col("n_chars") + 5).otherwise(col("n_chars")))
        .unionAll(old.filter(col("doc_id") % 29 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000))
      graft.operators.Merge.diff(old, nw, "doc_id", Seq("n_chars"))
        .orderBy("doc_id")
    } {
      """WITH o AS (SELECT doc_id, n_chars FROM documents),
        |n AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 13 != 0
        |  UNION ALL SELECT doc_id + 2000000, n_chars FROM documents WHERE doc_id % 29 = 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  o.n_chars AS old_n_chars, n.n_chars AS new_n_chars,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS action
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
        |   OR o.n_chars IS DISTINCT FROM n.n_chars
        |ORDER BY doc_id""".stripMargin
    },

    /** SCD Type-2 dimension build — the versioned-attribute shape that
      * completes the CDC family (x13 upsert, x14 diff): the order-status
      * history of each customer as half-open validity intervals. The log
      * is first made unique per (custkey, date) with the max_by(orderkey)
      * discipline so both engines see the identical change sequence —
      * see [[graft.operators.Merge.scd2]]. */
    QueryDef("x15_scd2") { (s, d) =>
      val log = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"), col("o_orderdate").as("d"))
        .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("status"))
      graft.operators.Merge.scd2(log, "custkey", "d", Seq("status"))
        .orderBy("custkey", "valid_from")
    }(x15Scd2Sql),

    /** Explicit GROUPING SETS — the reporting shape between x3's ROLLUP
      * and x12's CUBE: exactly the requested grouping combinations in ONE
      * aggregate pass (Catalyst expands rows once, no per-set rescans).
      * Spark's and DuckDB's grouping_id bit conventions differ, so the
      * sentinel-coalesce carries the set identity portably. */
    QueryDef("x16_grouping_sets") { (s, d) =>
      li(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    } {
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin
    },

    /** Next-event transition counts (the Markov matrix behavioral
      * pipelines fit): one window lead per user's time-ordered event
      * stream, then an ordinary count aggregate. event_id tiebreaks equal
      * timestamps so the sequence is total-ordered in any engine. */
    QueryDef("x17_transitions") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "next_type")
    } {
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    /** First-touch attribution: each purchase credits the user's EARLIEST
      * event in the preceding 7 days. One user-keyed equi join with the
      * time window as a residual predicate, then an argmin via struct-min
      * ((ts, event_id) is unique, so the lexicographic min IS the
      * earliest-then-lowest-id event — order-independent and map-side
      * combined). The purchase relation is user-keyed too, so at scale
      * both sides co-partition. */
    QueryDef("x18_first_touch") { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
      p.join(ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          Seq("user_id"))
        .filter(col("ts") >= col("pts") - expr("INTERVAL 7 DAYS") &&
          col("ts") < col("pts"))
        .groupBy(col("pid").as("purchase_id"), col("user_id"), col("pts"))
        .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"))
        .select(col("purchase_id"), col("user_id"),
          col("f.event_type").as("first_touch"), col("f.ts").as("touch_ts"))
        .orderBy("purchase_id")
    } {
      // two-step min (earliest ts, then lowest event_id at that ts) ==
      // Spark's lexicographic struct-min, since (ts, event_id) is unique
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT p.pid, min(e.ts) AS fts
        |  FROM p JOIN events e ON e.user_id = p.user_id
        |    AND e.ts >= p.pts - INTERVAL 7 DAY AND e.ts < p.pts
        |  GROUP BY p.pid),
        |f AS (
        |  SELECT p.pid, p.user_id, w.fts, min(e.event_id) AS feid
        |  FROM p JOIN w ON w.pid = p.pid
        |    JOIN events e ON e.user_id = p.user_id AND e.ts = w.fts
        |  GROUP BY 1, 2, 3)
        |SELECT f.pid AS purchase_id, f.user_id,
        |  e.event_type AS first_touch, f.fts AS touch_ts
        |FROM f JOIN events e ON e.event_id = f.feid
        |ORDER BY purchase_id""".stripMargin
    },

    /** Pivot: per-user-cohort event-type counts as columns — the wide
      * reporting shape. Explicit pivot values keep the plan a single
      * aggregate pass (no distinct-values pre-query). */
    QueryDef("x8_pivot") { (s, d) =>
      Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("cohort")
    } {
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** As-of join: each event enriched with the latest order (by date) of
      * the same customer — the union-scan implementation, oracle-checked
      * against DuckDB's native ASOF JOIN. Right side pre-deduped per
      * (key, time) so tie-breaking is unambiguous in both engines. */
    QueryDef("x5_asof_join", headline = true) { (s, d) =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id")
      val ord = Tables.orders(s, d)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.operators.AsOfJoin.asof(ev, ord,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightCols = Seq("o_orderkey", "o_orderdate"))
        .select("event_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    } {
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT event_id, o.o_orderkey, o.o_orderdate FROM events e
        |ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin
    },

    /** 2-D skyline (Pareto frontier: minimize price, maximize size) by the
      * SWEEP algorithm: per-price max size (one map-side-combined
      * aggregate over the data), then a running-max window over the
      * DISTINCT-price relation — O(distinct prices) sweep rows, never the
      * O(n²) dominance self-join the oracle's NOT EXISTS formulation runs.
      * The sweep runs the RANGE-PARTITIONED two-pass merge (dollar
      * buckets): per-bucket windows in parallel, one prefix-max over the
      * |buckets|-row maxima relation. Two different algorithms,
      * hash-identical frontiers. */
    QueryDef("x25_skyline") { (s, d) =>
      graft.operators.Pareto.skyline2d(
          Tables.part(s, d)
            .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          minCol = "p_retailprice", maxCol = "p_size",
          bucket = Some(v => floor(v / 100)))
        .orderBy("p_partkey")
    } {
      // quadratic dominance NOT EXISTS — a different algorithm than the
      // Spark side's distinct-price sweep, same frontier
      """SELECT p.p_partkey, p.p_retailprice, p.p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part r
        |  WHERE r.p_retailprice <= p.p_retailprice AND r.p_size >= p.p_size
        |    AND (r.p_retailprice < p.p_retailprice OR r.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin
    },

    /** Exact audience-overlap matrix via 64-bit WORD BITMAPS — the
      * groupBitmapAnd shape (ClickHouse/Druid) that makes pairwise
      * distinct-user intersections tractable at 100 TB: users fold into
      * (word = id div 64, bit = id mod 64) masks per segment, so a
      * segment's membership is |users|/64 longs, intersections are
      * popcount(AND) over a word-keyed equi-join of the TINY bitmap
      * relations, and no (segment, user) pair ever shuffles twice. All
      * integer, no sketch error — the oracle recomputes with plain
      * COUNT(DISTINCT) joins. */
    QueryDef("x26_bitmap_overlap", headline = true) { (s, d) =>
      graft.operators.Sketch.bitmapOverlap(
          Tables.events(s, d), segCol = "event_type", idCol = "user_id")
        .orderBy("seg1", "seg2")
    } {
      // plain COUNT(DISTINCT) set algebra — no bitmaps on the oracle side
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |card AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
        |inter AS (SELECT a.event_type AS seg1, b.event_type AS seg2,
        |    count(*) AS n_common
        |  FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT seg1, seg2, c1.n AS n1, c2.n AS n2, inter.n_common,
        |  c1.n + c2.n - inter.n_common AS n_union
        |FROM inter JOIN card c1 ON c1.event_type = seg1
        |  JOIN card c2 ON c2.event_type = seg2
        |ORDER BY seg1, seg2""".stripMargin
    },

    /** SCD2 point-in-time lookup — the QUERY half of the x15 dimension
      * build, and the join pattern every feature-store / training-data
      * backfill runs ("the customer's status AS OF the ship date"):
      * facts as-of join the versioned dimension on (key, valid_from ≤
      * fact time). Runs through [[graft.operators.AsOfJoin]]'s union-scan
      * (ONE shuffle on the key, no inequality join, no per-fact version
      * scan) while the oracle uses DuckDB's native ASOF JOIN — two
      * engines, two algorithms, one result. Facts predating their key's
      * first version surface as 'NONE' (the left-join semantics a
      * backfill must preserve, never silently dropped). */
    QueryDef("x31_scd2_lookup") { (s, d) =>
      val dim = graft.operators.Merge.scd2(
        Tables.orders(s, d)
          .groupBy(col("o_custkey").as("custkey"), col("o_orderdate").as("d"))
          .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("status")),
        "custkey", "d", Seq("status"))
      val facts = li(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("custkey")), "l_orderkey")
        .select(col("custkey"), col("l_shipdate"))
      graft.operators.AsOfJoin.asof(facts,
          dim.select(col("custkey"), col("valid_from"), col("status")),
          "custkey", "custkey", "l_shipdate", "valid_from",
          Seq("valid_from", "status"))
        .groupBy(coalesce(col("status"), lit("NONE")).as("status_at_ship"))
        .agg(count(lit(1)).as("n"))
        .orderBy("status_at_ship")
    } {
      // DuckDB's native ASOF JOIN vs the Spark side's union-scan — two
      // algorithms, one point-in-time result; pre-version facts → 'NONE'
      s"""WITH dim AS (SELECT custkey, status, valid_from FROM ($x15Scd2Sql)),
         |facts AS (SELECT o.o_custkey AS custkey, l.l_shipdate
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |pit AS (SELECT coalesce(d.status, 'NONE') AS status_at_ship
         |  FROM facts f ASOF LEFT JOIN dim d
         |    ON f.custkey = d.custkey AND d.valid_from <= f.l_shipdate)
         |SELECT status_at_ship, count(*) AS n FROM pit
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** Data-quality constraint audit — the dbt-tests/Deequ shape: every
      * constraint is ONE conditional aggregate (referential checks as a
      * left join + null flag, never a second counting pass; uniqueness as
      * count − countDistinct in the same fold), unioned into the report a
      * pipeline publishes before training data ships. All counts exact
      * integers; a clean TPC-H derivative proves zeros, the date/range
      * rules catch real rows. */
    QueryDef("x29_dq_audit") { (s, d) =>
      // all of a fact table's constraints fold in ONE pass (a 100 TB audit
      // cannot afford a scan per rule): lineitem's four rules share one
      // aggregate over the dim-key left join, orders' two likewise; the
      // per-rule rows explode out of the single-row fold afterwards
      def rows(folded: DataFrame, rules: (String, String)*): DataFrame =
        folded.select(explode(array(rules.map { case (name, vcol) =>
            struct(lit(name).as("check_name"),
              col(vcol).as("n_violations"), col("n").as("n_checked"))
          }: _*)).as("r"))
          .select("r.*")
      val liFold = li(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"))
          .distinct().withColumn("__ok", lit(1)), Seq("l_orderkey"), "left")
        .agg(
          sum(when(col("__ok").isNull, 1L).otherwise(0L)).as("v_orphan"),
          (count(lit(1)) -
            countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_dup"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_null"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("v_disc"),
          count(lit(1)).as("n"))
      val ordFold = Tables.orders(s, d)
        .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"))
          .distinct().withColumn("__ok", lit(1)), Seq("o_custkey"), "left")
        .agg(
          sum(when(col("__ok").isNull, 1L).otherwise(0L)).as("v_orphan"),
          sum(when(col("o_orderdate") >= lit("1998-01-01"), 1L).otherwise(0L))
            .as("v_date"),
          count(lit(1)).as("n"))
      val partFold = Tables.part(s, d).agg(
        sum(when(col("p_retailprice") <= 0, 1L).otherwise(0L)).as("v_neg"),
        count(lit(1)).as("n"))
      rows(liFold,
          "lineitem.orphan_orderkey" -> "v_orphan",
          "lineitem.dup_pk" -> "v_dup",
          "lineitem.null_quantity" -> "v_null",
          "lineitem.bad_discount" -> "v_disc")
        .unionAll(rows(ordFold,
          "orders.orphan_custkey" -> "v_orphan",
          "orders.date_after_1997" -> "v_date"))
        .unionAll(rows(partFold, "part.negative_price" -> "v_neg"))
        .orderBy("check_name")
    } {
      // each constraint is one conditional aggregate; referential checks
      // via LEFT JOIN + null flag, uniqueness via count − count(distinct)
      """SELECT * FROM (
        |SELECT 'lineitem.orphan_orderkey' AS check_name,
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  count(*) AS n_checked
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'orders.orphan_custkey',
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*)
        |FROM orders od LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON od.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'lineitem.dup_pk',
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |  count(*) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.null_quantity',
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.bad_discount',
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*) FROM lineitem
        |UNION ALL
        |SELECT 'part.negative_price',
        |  CAST(sum(CASE WHEN p_retailprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*) FROM part
        |UNION ALL
        |SELECT 'orders.date_after_1997',
        |  CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*) FROM orders
        |) ORDER BY check_name""".stripMargin
    },

    /** Cohen's kappa between the gold `lang` column and the t2 language-
      * id prediction — the label-agreement score a curation pipeline
      * publishes when a model re-annotates training data. Exact integer
      * form over the common denominator: kappa = (N·agree − Σ n1ₖn2ₖ) /
      * (N² − Σ n1ₖn2ₖ), micro-quantized with sign-safe magnitude
      * division. Marginals are two tiny per-class aggregates joined on
      * the class key; the observed-agreement fold is one conditional
      * aggregate over the rated relation. */
    QueryDef("x30_cohens_kappa") { (s, d) =>
      val rated = graft.core.Caching.shared(Tables.documents(s, d)
        .select(col("lang").as("gold"), TextOps.langId(col("text")).as("pred")))
      val n1 = rated.groupBy(col("gold").as("k")).agg(count(lit(1)).as("c1"))
      val n2 = rated.groupBy(col("pred").as("k")).agg(count(lit(1)).as("c2"))
      val pe = n1.join(n2, Seq("k"))
        .agg(coalesce(sum(col("c1") * col("c2")), lit(0L)).as("pe_num"))
      rated
        .agg(count(lit(1)).as("n"),
          sum(when(col("gold") === col("pred"), 1L).otherwise(0L)).as("n_agree"))
        .crossJoin(broadcast(pe))
        .withColumn("__num", col("n") * col("n_agree") - col("pe_num"))
        .withColumn("__den", col("n") * col("n") - col("pe_num"))
        .select(col("n"), col("n_agree"),
          when(col("__den") === 0, lit(1000000L))
            .when(col("__num") >= 0, expr("__num * 1000000 div __den"))
            .otherwise(-expr("(-__num) * 1000000 div __den"))
            .as("kappa_micro"))
    } {
      // exact-integer kappa over the common denominator; sign-safe //
      s"""WITH pred AS (SELECT doc_id, lang_pred FROM ($t2LangSql)),
         |rated AS (SELECT d.lang AS gold, p.lang_pred AS pred
         |  FROM documents d JOIN pred p USING (doc_id)),
         |n1 AS (SELECT gold AS k, count(*) AS c1 FROM rated GROUP BY 1),
         |n2 AS (SELECT pred AS k, count(*) AS c2 FROM rated GROUP BY 1),
         |pe AS (SELECT CAST(coalesce(sum(c1 * c2), 0) AS BIGINT) AS pe_num
         |  FROM n1 JOIN n2 USING (k)),
         |a AS (SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM rated)
         |SELECT n, n_agree,
         |  CAST(CASE WHEN n * n - pe_num = 0 THEN 1000000
         |    WHEN n * n_agree - pe_num >= 0
         |      THEN (n * n_agree - pe_num) * 1000000 // (n * n - pe_num)
         |    ELSE -((pe_num - n * n_agree) * 1000000 // (n * n - pe_num))
         |  END AS BIGINT) AS kappa_micro
         |FROM a, pe""".stripMargin
    },

    /** Per-class precision/recall/F1 of the t2 language-id against gold —
      * the class-resolved sibling of x30's single-number kappa (macro-F1
      * is the mean of the f1_micro column). ONE pass: the (gold, pred)
      * confusion census is the only corpus-sized aggregate; per-class
      * marginals and the diagonal all derive from those ≤|classes|² rows.
      * F1 never divides twice: f1 = 2·tp/(n_gold + n_pred) exactly, so
      * all three metrics are single integer divisions (micro units). */
    QueryDef("x32_macro_f1") { (s, d) =>
      val census = graft.core.Caching.shared(
        Tables.documents(s, d)
          .select(col("lang").as("gold"), TextOps.langId(col("text")).as("pred"))
          .groupBy("gold", "pred").agg(count(lit(1)).as("c")))
      val goldTot = census.groupBy(col("gold").as("k")).agg(sum("c").as("n_gold"))
      val predTot = census.groupBy(col("pred").as("k")).agg(sum("c").as("n_pred"))
      val tp = census.filter(col("gold") === col("pred"))
        .select(col("gold").as("k"), col("c").as("tp"))
      goldTot.join(predTot, Seq("k"), "full")
        .join(tp, Seq("k"), "left")
        .na.fill(0L, Seq("n_gold", "n_pred", "tp"))
        .select(col("k"), col("n_gold"), col("n_pred"), col("tp"),
          when(col("n_pred") === 0, 0L)
            .otherwise(expr("tp * 1000000 div n_pred")).as("prec_micro"),
          when(col("n_gold") === 0, 0L)
            .otherwise(expr("tp * 1000000 div n_gold")).as("rec_micro"),
          when(col("n_gold") + col("n_pred") === 0, 0L)
            .otherwise(expr("2 * tp * 1000000 div (n_gold + n_pred)")).as("f1_micro"))
        .orderBy("k")
    } {
      // per-class P/R/F1 from the one confusion census; f1 = 2tp/(g+p)
      // exactly — every metric is a single integer division
      s"""WITH pred AS (SELECT doc_id, lang_pred FROM ($t2LangSql)),
         |rated AS (SELECT d.lang AS gold, p.lang_pred AS pred
         |  FROM documents d JOIN pred p USING (doc_id)),
         |census AS (SELECT gold, pred, count(*) AS c FROM rated GROUP BY 1, 2),
         |gt AS (SELECT gold AS k, CAST(sum(c) AS BIGINT) AS n_gold FROM census GROUP BY 1),
         |pt AS (SELECT pred AS k, CAST(sum(c) AS BIGINT) AS n_pred FROM census GROUP BY 1),
         |tp AS (SELECT gold AS k, CAST(c AS BIGINT) AS tp FROM census WHERE gold = pred),
         |m AS (SELECT k, coalesce(n_gold, 0) AS n_gold, coalesce(n_pred, 0) AS n_pred,
         |    coalesce(tp, 0) AS tp
         |  FROM gt FULL JOIN pt USING (k) LEFT JOIN tp USING (k))
         |SELECT k, n_gold, n_pred, tp,
         |  CAST(CASE WHEN n_pred = 0 THEN 0 ELSE tp * 1000000 // n_pred END AS BIGINT) AS prec_micro,
         |  CAST(CASE WHEN n_gold = 0 THEN 0 ELSE tp * 1000000 // n_gold END AS BIGINT) AS rec_micro,
         |  CAST(CASE WHEN n_gold + n_pred = 0 THEN 0
         |    ELSE 2 * tp * 1000000 // (n_gold + n_pred) END AS BIGINT) AS f1_micro
         |FROM m ORDER BY k""".stripMargin
    },

    /** Robust outlier detection — Tukey IQR fences per group over exact
      * cent-quantized revenue: quartiles as true order statistics (the
      * value at rank ⌈p·n⌉ — percentile_disc semantics, deterministic
      * regardless of tie order), fences at Q1 − 1.5·IQR / Q3 + 1.5·IQR
      * compared in DOUBLED integers (2x < 2·Q1 − 3·IQR) so the half-cent
      * never floats. The quartile table is |groups| rows and broadcasts
      * back into the scan — the fact table shuffles once for the ranking
      * window and never again. The anomaly-filter gate every curation
      * pipeline runs over numeric features. */
    QueryDef("x33_iqr_outliers") { (s, d) =>
      val v = li(s, d).select(col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val w = Window.partitionBy("grp").orderBy("cents")
      val ranked = v
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("grp")))
      val quart = ranked
        .groupBy("grp")
        .agg(
          min(when(col("__rn") * 4 >= col("__n"), col("cents"))).as("q1"),
          min(when(col("__rn") * 4 >= col("__n") * 3, col("cents"))).as("q3"),
          max("__n").as("n"))
      v.join(broadcast(quart), "grp")
        .withColumn("__out",
          when(col("cents") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3 ||
               col("cents") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3, 1L)
            .otherwise(0L))
        .groupBy("grp")
        .agg(max("q1").as("q1"), max("q3").as("q3"), max("n").as("n"),
          sum("__out").as("n_outliers"),
          min(when(col("__out") === 1, col("cents"))).as("min_outlier_cents"),
          max(when(col("__out") === 1, col("cents"))).as("max_outlier_cents"))
        .orderBy("grp")
    } {
      // Tukey IQR fences on exact order-statistic quartiles (value at
      // rank ⌈p·n⌉); fence compare in doubled integers — no half-cent
      """WITH v AS (SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |r AS (SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n FROM v),
        |quart AS (SELECT grp,
        |    min(CASE WHEN rn * 4 >= n THEN cents END) AS q1,
        |    min(CASE WHEN rn * 4 >= n * 3 THEN cents END) AS q3,
        |    max(n) AS n
        |  FROM r GROUP BY 1),
        |o AS (SELECT v.grp, v.cents, q.q1, q.q3, q.n,
        |    CASE WHEN v.cents * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
        |           OR v.cents * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
        |      THEN 1 ELSE 0 END AS outl
        |  FROM v JOIN quart q USING (grp))
        |SELECT grp, max(q1) AS q1, max(q3) AS q3, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(outl) AS BIGINT) AS n_outliers,
        |  min(CASE WHEN outl = 1 THEN cents END) AS min_outlier_cents,
        |  max(CASE WHEN outl = 1 THEN cents END) AS max_outlier_cents
        |FROM o GROUP BY 1 ORDER BY grp""".stripMargin
    },

    /** Conversion-latency distribution — seconds from each user's FIRST
      * view to their first purchase AFTER it, summarized as exact order
      * statistics (the x33 rank-⌈p·n⌉ discipline: p50/p90 are true data
      * values, not interpolations). Two argmin folds (map-side combined)
      * + one user-keyed join; the percentile pass ranks the |converters|
      * relation via [[graft.operators.Ranks.globalRank]] on hour-of-
      * latency buckets — parallel per-bucket windows + a broadcast
      * offset census, NEVER a partition-less window over every
      * converting user (the r11 scale-killer). The time-to-convert
      * readout every funnel ships with. */
    QueryDef("x38_conversion_latency") { (s, d) =>
      val ev = Tables.events(s, d)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vts"))
      val lat = firstView.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("pts")), "user_id")
        .filter(col("pts") >= col("vts"))
        .groupBy("user_id")
        .agg((unix_micros(min("pts")) - unix_micros(max("vts")))
          .as("__us"))
        .select(col("user_id"), expr("__us div 1000000").as("lat_sec"))
      val ranked = graft.operators.Ranks.globalRank(lat, col("lat_sec"),
        Seq(col("user_id")), expr("lat_sec div 3600"))
      val n = lat.agg(count(lit(1)).as("__n"))
      ranked
        .crossJoin(broadcast(n))
        .agg(count(lit(1)).as("n_conversions"),
          min(when(col("__rank") * 2 >= col("__n"), col("lat_sec"))).as("p50_sec"),
          min(when(col("__rank") * 10 >= col("__n") * 9, col("lat_sec"))).as("p90_sec"),
          min("lat_sec").as("min_sec"), max("lat_sec").as("max_sec"))
    } {
      // two argmin folds + exact rank-⌈p·n⌉ order statistics
      """WITH fv AS (SELECT user_id, min(ts) AS vts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |lat AS (SELECT f.user_id,
        |    CAST((epoch_us(min(p.ts)) - epoch_us(max(f.vts))) // 1000000
        |      AS BIGINT) AS lat_sec
        |  FROM fv f JOIN events p ON p.user_id = f.user_id
        |    AND p.event_type = 'purchase' AND p.ts >= f.vts
        |  GROUP BY 1),
        |r AS (SELECT lat_sec,
        |    row_number() OVER (ORDER BY lat_sec, user_id) AS rn,
        |    count(*) OVER () AS n FROM lat)
        |SELECT count(*) AS n_conversions,
        |  min(CASE WHEN rn * 2 >= n THEN lat_sec END) AS p50_sec,
        |  min(CASE WHEN rn * 10 >= n * 9 THEN lat_sec END) AS p90_sec,
        |  min(lat_sec) AS min_sec, max(lat_sec) AS max_sec
        |FROM r""".stripMargin
    },

    /** Rolling 7-day active users per day (WAU) next to the daily count
      * (DAU) and the stickiness ratio — the engagement triple every
      * product dashboard leads with. Exact sliding DISTINCT without a
      * range-window distinct (unsupported) or a self-join: each (day,
      * user) presence row contributes to its 7 target days via one
      * bounded explode, then per-day count_distinct. 7× amplification of
      * the |days × users| presence relation (not the event stream) — the
      * scale-safe shape. Days with zero trailing activity are absent. */
    QueryDef("x39_rolling_wau", headline = true) { (s, d) =>
      val pres = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = pres.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = pres
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
          col("user_id"))
        .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
      // only days that actually occur in the stream report (trailing
      // phantom days past the last event would under-count their window)
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 div wau").as("stickiness_micro"))
        .orderBy("day")
    } {
      // presence explode to 7 target days, per-day count distinct; only
      // days that occur in the stream report
      """WITH pres AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM pres GROUP BY 1),
        |wau AS (SELECT p.day + CAST(o.o AS INT) AS day,
        |    CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
        |  FROM pres p CROSS JOIN range(0, 7) o(o) GROUP BY 1)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau, w.wau,
        |  CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_micro
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin
    },

    /** Median absolute deviation — the robust scale estimate next to
      * x33's IQR fences (outlier-resistant σ for feature standardization):
      * per group, the LOWER median of |x − median(x)|, both medians as
      * exact rank-⌈n/2⌉ order statistics (two grp-keyed ranking windows,
      * the |groups|-row median table broadcasting back between them).
      * All integers in cents — engine-identical. */
    QueryDef("x51_mad") { (s, d) =>
      val v = graft.core.Caching.shared(li(s, d).select(
        col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents")))
      def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
        val w = Window.partitionBy("grp").orderBy(valueCol)
        df.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("grp")))
          .groupBy("grp")
          .agg(min(when(col("__rn") * 2 >= col("__n"), col(valueCol))).as(out))
      }
      val med = lowerMedian(v, "cents", "median_cents")
      val dev = v.join(broadcast(med), "grp")
        .select(col("grp"), col("median_cents"),
          abs(col("cents") - col("median_cents")).as("adev"))
      lowerMedian(dev, "adev", "mad_cents")
        .join(broadcast(med), "grp")
        .select(col("grp"), col("median_cents"), col("mad_cents"))
        .orderBy("grp")
    } {
      // two exact lower-median passes; the median table broadcasts back
      """WITH v AS (SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |r1 AS (SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n FROM v),
        |med AS (SELECT grp,
        |    min(CASE WHEN rn * 2 >= n THEN cents END) AS median_cents
        |  FROM r1 GROUP BY 1),
        |dev AS (SELECT v.grp, abs(v.cents - m.median_cents) AS adev,
        |    m.median_cents
        |  FROM v JOIN med m USING (grp)),
        |r2 AS (SELECT grp, adev, median_cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY adev) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n FROM dev)
        |SELECT grp, max(median_cents) AS median_cents,
        |  min(CASE WHEN rn * 2 >= n THEN adev END) AS mad_cents
        |FROM r2 GROUP BY 1 ORDER BY grp""".stripMargin
    },

    /** A/B experiment readout — 2×2 chi-square over per-user conversion
      * (any purchase event) with deterministic portable-hash variant
      * assignment, the analysis every experimentation pipeline runs.
      * χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) entirely in integers:
      * N·det² and the marginal product lift to DECIMAL(38,0) (paired
      * with HUGEINT in the oracle — det can reach n²/4, so the products
      * pass 2⁶³ near a few hundred thousand users; decimal headroom
      * holds to ~7·10⁷), and the micro-scaling splits the division
      * (q·10⁶ + r·10⁶ div den) to keep the 10⁶ factor off the big
      * product. One
      * user-keyed aggregate (conversion flag is a max fold, map-side
      * combined) and a 4-cell fold — nothing else touches the stream. */
    QueryDef("x34_chi_square") { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("variant",
          PortableHash.hash32(col("user_id").cast("string")) % 2)
      users.agg(
          sum(when(col("variant") === 0 && col("conv") === 1, 1L).otherwise(0L)).as("conv_a"),
          sum(when(col("variant") === 0 && col("conv") === 0, 1L).otherwise(0L)).as("nonconv_a"),
          sum(when(col("variant") === 1 && col("conv") === 1, 1L).otherwise(0L)).as("conv_b"),
          sum(when(col("variant") === 1 && col("conv") === 0, 1L).otherwise(0L)).as("nonconv_b"))
        .withColumn("n_users",
          col("conv_a") + col("nonconv_a") + col("conv_b") + col("nonconv_b"))
        .withColumn("__det",
          col("conv_a") * col("nonconv_b") - col("nonconv_a") * col("conv_b"))
        .withColumn("__num",
          col("n_users").cast("decimal(38,0)") * col("__det") * col("__det"))
        .withColumn("__den",
          (col("conv_a") + col("nonconv_a")).cast("decimal(38,0)") *
            (col("conv_b") + col("nonconv_b")) *
            (col("conv_a") + col("conv_b")) * (col("nonconv_a") + col("nonconv_b")))
        .select(col("n_users"), col("conv_a"), col("nonconv_a"),
          col("conv_b"), col("nonconv_b"),
          when(col("__den") === 0, 0L)
            .otherwise(expr("(__num div __den) * 1000000 + (__num % __den) * 1000000 div __den"))
            .as("chi2_micro"))
    } {
      // 2×2 chi-square in exact integers; N·det² and the marginal product
      // lift to HUGEINT (DECIMAL(38) on the Spark side), split division
      // keeps the 10⁶ factor off the big product
      val vh = PortableHash.hash32Sql("CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1),
         |v AS (SELECT $vh % 2 AS variant, conv FROM u),
         |t AS (SELECT
         |    CAST(sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
         |    CAST(sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonconv_a,
         |    CAST(sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
         |    CAST(sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonconv_b
         |  FROM v),
         |x AS (SELECT *, conv_a + nonconv_a + conv_b + nonconv_b AS n_users,
         |    conv_a * nonconv_b - nonconv_a * conv_b AS det FROM t),
         |y AS (SELECT *, CAST(n_users AS HUGEINT) * det * det AS num,
         |    CAST(conv_a + nonconv_a AS HUGEINT) * (conv_b + nonconv_b)
         |      * (conv_a + conv_b) * (nonconv_a + nonconv_b) AS den FROM x)
         |SELECT n_users, conv_a, nonconv_a, conv_b, nonconv_b,
         |  CAST(CASE WHEN den = 0 THEN 0
         |    ELSE (num // den) * 1000000 + (num % den) * 1000000 // den
         |  END AS BIGINT) AS chi2_micro
         |FROM y""".stripMargin
    },

    /** Position-based (U-shaped) multi-touch attribution — the marketing
      * sibling of x18's first-touch: every view/click in the 7 days
      * before a purchase shares that conversion's credit 40/20/40 (first
      * 400k micro, last 400k, middles 200000 div (n−2); n=1 → 10⁶, n=2 →
      * 500k each). All credits are exact integer micros, so the per-
      * channel totals hash. User-keyed equi join with the window as a
      * residual (x18's co-partitioned shape); position/count are one
      * window pair per conversion. */
    QueryDef("x28_position_attr") { (s, d) =>
      val ev = Tables.events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val joined = touch.join(conv, Seq("user_id"))
        .filter(col("ts") < col("cts") &&
          col("ts") >= col("cts") - expr("INTERVAL 7 DAYS"))
      val part = Window.partitionBy("user_id", "cid")
      val ranked = joined
        .withColumn("rn", row_number().over(part.orderBy("ts", "event_id")))
        .withColumn("n", count(lit(1)).over(part))
      ranked
        .withColumn("credit",
          when(col("n") === 1, lit(1000000L))
            .when(col("n") === 2, lit(500000L))
            .when(col("rn") === 1 || col("rn") === col("n"), lit(400000L))
            .otherwise(expr("200000 div (n - 2)")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit_micro"))
        .orderBy("event_type")
    } {
      // U-shaped credits: 40/20/40 in exact integer micros, one
      // rank/count window pair per conversion
      """WITH conv AS (SELECT user_id, ts AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, ts, event_id, event_type
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT t.event_type, t.ts, t.event_id, c.user_id, c.cid
        |  FROM touch t JOIN conv c ON t.user_id = c.user_id
        |  WHERE t.ts < c.cts AND t.ts >= c.cts - INTERVAL 7 DAY),
        |r AS (SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, cid ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, cid) AS n
        |  FROM j)
        |SELECT event_type, count(*) AS n_touches,
        |  CAST(sum(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
        |    WHEN rn = 1 OR rn = n THEN 400000
        |    ELSE 200000 // (n - 2) END) AS BIGINT) AS credit_micro
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** MATCH_RECOGNIZE-lite sequence pattern matching: each user's event
      * stream folds to a compact per-event character string (one
      * ObjectHashAggregate whose state is one char per event — the t25
      * reassembly discipline; a production run bounds it per session),
      * then the funnel pattern `v+cp` (views, click, purchase) counts as
      * non-overlapping regex matches — the same greedy left-to-right
      * semantics in Java and DuckDB regex for this alternation-free
      * pattern. No self-join per stage (x10's shape), no state machine
      * UDF. */
    QueryDef("x27_event_pattern", headline = true) { (s, d) =>
      val ch = when(col("event_type") === "click", "c")
        .when(col("event_type") === "error", "e")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("v")
      Tables.events(s, d)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), ch.as("ch")).as("ev"))
        .groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(col("ev"))), e => e("ch")), "")
          .as("seq"))
        .select(col("user_id"), length(col("seq")).cast("long").as("seq_len"),
          expr("size(regexp_extract_all(seq, 'v+cp', 0))").cast("long")
            .as("n_funnels"))
        .orderBy("user_id")
    } {
      // per-user event streams as ordered character strings; the funnel
      // pattern counts as non-overlapping greedy regex matches
      """WITH s AS (
        |  SELECT user_id, string_agg(
        |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'v' END,
        |    '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        |  CAST(len(regexp_extract_all(seq, 'v+cp')) AS BIGINT) AS n_funnels
        |FROM s ORDER BY user_id""".stripMargin
    })
}
