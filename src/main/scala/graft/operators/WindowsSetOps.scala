package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 B5 (window functions) and B6 (sort/limit/set ops).
  * Window partitioning keys are the natural distribution keys (custkey,
  * suppkey) so at scale each window is computed within one shuffle
  * partition; every orderBy inside a window includes a unique tiebreaker
  * column so RANGE/ROWS frames and rank functions are deterministic.
  */
object WindowsSetOps {

  /** B5 ranking family: row_number / rank / dense_rank / ntile. */
  private val q13 = Q(
    "q13_window_rank",
    """SELECT o_custkey, o_orderkey,
              row_number() OVER w AS rn,
              rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rk,
              dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drk,
              ntile(4) OVER w AS quartile
       FROM orders
       WHERE o_custkey < 50
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
       ORDER BY o_custkey, rn""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wp = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(wp).cast("long").as("rk"),
        dense_rank().over(wp).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** B5 analytic family: lag / lead / first / last over per-customer order
    * history (unique (o_orderdate, o_orderkey) ordering → deterministic). */
  private val q14 = Q(
    "q14_window_analytic",
    """SELECT o_custkey, o_orderkey,
              round(lag(o_totalprice, 1, 0.0) OVER w, 2)  AS prev_price,
              round(lead(o_totalprice, 1, -1.0) OVER w, 2) AS next_price,
              round(first_value(o_totalprice) OVER w, 2)  AS first_price,
              round(last_value(o_totalprice) OVER w, 2)   AS running_last
       FROM orders WHERE o_custkey < 30
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 30)
      .select(col("o_custkey"), col("o_orderkey"),
        round(lag(col("o_totalprice"), 1, 0.0).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1, -1.0).over(w), 2).as("next_price"),
        round(first(col("o_totalprice")).over(w), 2).as("first_price"),
        round(last(col("o_totalprice")).over(w), 2).as("running_last"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** B5 frames: running sum (ROWS unbounded..current), sliding 3-row avg,
    * and a numeric RANGE frame (1000 preceding on o_totalprice). */
  private val q15 = Q(
    "q15_window_frames",
    """SELECT o_custkey, o_orderkey,
              round(sum(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
              round(avg(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sliding_avg,
              count(*) OVER
                (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
       FROM orders WHERE o_custkey < 30
       ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val wt = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wr = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-1000, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 30)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_sum"),
        round(avg(col("o_totalprice")).over(wt.rowsBetween(-2, Window.currentRow)), 4)
          .as("sliding_avg"),
        count(lit(1)).over(wr).as("n_within_1000"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** B5: top-k per group (row_number <= k pattern): top-3 revenue parts per
    * supplier. At scale this is the shuffle-once, no-global-sort top-k. */
  private val q16 = Q(
    "q16_topk_per_group",
    """SELECT l_suppkey, l_partkey, revenue FROM (
         SELECT l_suppkey, l_partkey,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
                row_number() OVER (PARTITION BY l_suppkey
                                   ORDER BY sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) DESC,
                                            l_partkey) AS rn
         FROM lineitem GROUP BY l_suppkey, l_partkey) t
       WHERE rn <= 3
       ORDER BY l_suppkey, revenue DESC, l_partkey""") { (s, d) =>
    // per-row fixed-point (1e-4) before summing: integer sums are exact and
    // order-independent, so the revenue value and the top-k ordering agree
    // bit-for-bit across engines and across partial-agg orders
    val byPart = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
        .cast(org.apache.spark.sql.types.LongType)) / 10000.0).as("revenue"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("revenue").desc, col("l_partkey"))
    byPart.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("l_suppkey", "l_partkey", "revenue")
      .orderBy(col("l_suppkey"), col("revenue").desc, col("l_partkey"))
  }

  /** B6: multi-key global sort with explicit NULL ordering + limit.
    * (TakeOrderedAndProject physically — no full global sort at scale.) */
  private val q17 = Q(
    "q17_sort_nulls_limit",
    """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_or_null, o_totalprice
       FROM orders
       ORDER BY status_or_null DESC NULLS LAST, o_totalprice DESC, o_orderkey
       LIMIT 100""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        col("o_totalprice"))
      .orderBy(col("status_or_null").desc_nulls_last, col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** B6: the full set-operation family over two overlapping custkey bags:
    * A = custkeys of orders >150k, B = custkeys of URGENT orders. One lazy
    * union of counts so the whole thing is a single DataFrame. */
  private val q18 = Q(
    "q18_setops",
    """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
            b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
       SELECT op, n FROM (
         SELECT 'union_all' AS op, count(*) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t
         UNION ALL SELECT 'union_distinct', count(*) FROM (SELECT k FROM a UNION SELECT k FROM b) t
         UNION ALL SELECT 'intersect', count(*) FROM (SELECT k FROM a INTERSECT SELECT k FROM b) t
         UNION ALL SELECT 'intersect_all', count(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t
         UNION ALL SELECT 'except', count(*) FROM (SELECT k FROM a EXCEPT SELECT k FROM b) t
         UNION ALL SELECT 'except_all', count(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t
       ) u ORDER BY op""") { (s, d) =>
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_totalprice") > 150000).select(col("o_custkey").as("k"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
    def counted(op: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    counted("union_all", a.unionAll(b))
      .unionAll(counted("union_distinct", a.union(b).distinct()))
      .unionAll(counted("intersect", a.intersect(b)))
      .unionAll(counted("intersect_all", a.intersectAll(b)))
      .unionAll(counted("except", a.except(b)))
      .unionAll(counted("except_all", a.exceptAll(b)))
      .orderBy("op")
  }

  /** B2/B6: distinct projection over a composite key. */
  private val q19 = Q(
    "q19_distinct",
    """SELECT DISTINCT o_orderstatus, o_orderpriority
       FROM orders ORDER BY o_orderstatus, o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** B5 distribution family: percent_rank, cume_dist, nth_value. */
  private val q39 = Q(
    "q39_window_distribution",
    """SELECT o_custkey, o_orderkey,
              round(percent_rank() OVER w, 6) AS pr,
              round(cume_dist() OVER w, 6) AS cd,
              round(nth_value(o_totalprice, 2) OVER
                (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_price
       FROM orders WHERE o_custkey < 25
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
       ORDER BY o_custkey, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 25)
      .select(col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        round(nth_value(col("o_totalprice"), 2).over(wFull), 2).as("second_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** B2: explicit three-valued logic — NULL propagation through
    * comparisons, AND/OR short-circuit truth table, null-safe equality. */
  private val q52 = Q(
    "q52_three_valued_logic",
    """SELECT o_orderkey,
              (maybe_null = 'F') AS eq_nullable,
              (maybe_null = 'F') IS NULL AS eq_is_unknown,
              (maybe_null = 'F' AND o_totalprice > 0) IS NULL AS and_unknown,
              (maybe_null = 'F' OR TRUE) AS or_true,
              (maybe_null IS NOT DISTINCT FROM NULL) AS null_safe_eq_null,
              coalesce(maybe_null, 'fallback') AS coalesced
       FROM (SELECT o_orderkey, o_totalprice,
                    nullif(o_orderstatus, 'O') AS maybe_null
             FROM orders WHERE o_orderkey < 2000) t
       ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_totalprice"),
        nullif(col("o_orderstatus"), lit("O")).as("maybe_null"))
      .select(col("o_orderkey"),
        (col("maybe_null") === "F").as("eq_nullable"),
        (col("maybe_null") === "F").isNull.as("eq_is_unknown"),
        (col("maybe_null") === "F" && col("o_totalprice") > 0).isNull.as("and_unknown"),
        (col("maybe_null") === "F" || lit(true)).as("or_true"),
        (col("maybe_null") <=> lit(null)).as("null_safe_eq_null"),
        coalesce(col("maybe_null"), lit("fallback")).as("coalesced"))
      .orderBy("o_orderkey")
  }

  /** B5/B8: BATCH sessionization via `session_window` — the same gap-based
    * session semantics as the streaming s04/s10 queries, on bounded data:
    * one shuffle by user, sessions merged per key (end = last event +
    * gap). Oracle = classic gaps-and-islands SQL. */
  private val q60 = Q(
    "q60_session_window_batch",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE user_id < 100),
         flg AS (
           SELECT user_id, us,
                  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                       THEN 1 ELSE 0 END AS new_s
           FROM e),
         sess AS (
           SELECT user_id, us,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM flg)
       SELECT user_id, min(us) AS session_start_us,
              max(us) + 1800000000 AS session_end_us,
              count(*) AS n_events
       FROM sess GROUP BY user_id, sid
       ORDER BY user_id, session_start_us""") { (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id") < 100)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  /** Per-user rolling z-score anomaly detection — the monitoring query a
    * metrics warehouse runs over its event stream: each event's value is
    * scored against the trailing 20 events of the SAME user (frame ends
    * at 1 PRECEDING, so the scored point never contaminates its own
    * baseline), and |z| ≥ 3 with ≥10 baseline points flags an anomaly.
    *
    * fp discipline (the t13 contract): values are quantized to integer
    * cents; rolling sum and sum-of-squares are exact integer window
    * aggregates, variance is the integer n·Σx²−(Σx)² scaled by one
    * divide, and z is one subtract/divide chain on identical operands —
    * bit-stable across engines and frame evaluation orders. Scale
    * shape: one shuffle by user_id, then narrow per-partition frames;
    * no global sort (the presentation ORDER BY is the oracle contract,
    * driver-side only on the anomaly sliver). */
  private val q72 = Q(
    "q72_rolling_anomaly",
    """WITH v AS (
         SELECT event_id, user_id, ts,
                CAST(round(value * 100) AS BIGINT) AS vc
         FROM events),
       w AS (
         SELECT event_id, user_id, ts, vc,
                count(vc) OVER fr AS n,
                sum(vc) OVER fr AS s1,
                sum(vc * vc) OVER fr AS s2
         FROM v
         WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
       z AS (
         SELECT event_id, user_id, ts, vc, n,
                (vc * n - s1) * 1.0 / (n * sqrt((s2 * n - s1 * s1) * 1.0 / (n * n))) AS z
         FROM w WHERE n >= 10 AND s2 * n - s1 * s1 > 0)
       SELECT event_id, user_id,
              CAST(epoch_us(ts) AS BIGINT) AS ts_us,
              round(vc / 100.0, 2) AS value,
              round(z, 4) AS zscore
       FROM z WHERE abs(z) >= 3
       ORDER BY user_id, ts_us, event_id""") { (s, d) =>
    val fr = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast(org.apache.spark.sql.types.LongType).as("vc"))
      .withColumn("n", count(col("vc")).over(fr))
      .withColumn("s1", sum(col("vc")).over(fr))
      .withColumn("s2", sum(col("vc") * col("vc")).over(fr))
      .filter(col("n") >= 10 && col("s2") * col("n") - col("s1") * col("s1") > 0)
      .withColumn("z",
        (col("vc") * col("n") - col("s1")) * lit(1.0) /
          (col("n") * sqrt((col("s2") * col("n") - col("s1") * col("s1")) * lit(1.0) /
            (col("n") * col("n")))))
      .filter(abs(col("z")) >= 3)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("vc") / 100.0, 2).as("value"),
        round(col("z"), 4).as("zscore"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** DYNAMIC-gap sessionization — `session_window` with a PER-EVENT gap
    * expression (purchases hold a session open 2 h, everything else
    * 30 min), the Spark feature q60's fixed gap can't express: "a
    * purchase buys you a longer attention window". The oracle derives
    * the exact merge semantics by hand — an event starts a new session
    * iff its time exceeds the RUNNING MAX of (prior event + its own
    * gap) (not just the previous event's reach: an early long-gap event
    * can bridge over several short-gap ones), i.e. interval merging via
    * `max(us + gap) OVER (... ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING)` + a break-flag cumsum. The census aggregates session
    * MEMBERS (first/last member timestamps), so the engine/oracle
    * comparison is independent of how the built-in extends window ends.
    *
    * Scale shape: one shuffle on user_id (both the built-in session
    * window and the oracle's windows sort within user); census rows are
    * sessions, then users. */
  private val q77 = Q(
    "q77_dynamic_gap_sessions",
    """WITH e AS (
         SELECT user_id, epoch_us(ts) AS us, event_id,
                CASE WHEN event_type = 'purchase' THEN 7200000000 ELSE 1800000000 END AS gap_us
         FROM events),
       r AS (
         SELECT user_id, us, event_id, gap_us,
                max(us + gap_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
         FROM e),
       flg AS (
         SELECT user_id, us, event_id,
                CASE WHEN reach IS NULL OR us > reach THEN 1 ELSE 0 END AS new_s
         FROM r),
       sess AS (
         SELECT user_id, us,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM flg),
       g AS (
         SELECT user_id, sid, count(*) AS n_events,
                min(us) AS s_us, max(us) AS e_us
         FROM sess GROUP BY user_id, sid)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(n_events) AS BIGINT) AS n_events,
              CAST(max(e_us - s_us) AS BIGINT) AS max_span_us,
              CAST(max(n_events) AS BIGINT) AS max_len
       FROM g GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val gap = when(col("event_type") === "purchase", "2 hours")
      .otherwise("30 minutes")
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
        max(col("e_us") - col("s_us")).as("max_span_us"),
        max(col("n_events")).as("max_len"))
      .orderBy("user_id")
  }

  val defs: Seq[Q] = Seq(q13, q14, q15, q16, q17, q18, q19, q39, q52, q60, q72,
    q77)
}
