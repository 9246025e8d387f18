"""Event-analytics compositions over the ``events`` stream table:
ordered funnel, cohort retention, batch sessionization, time-hierarchy
rollup, cumulative distinct reach, and A/B-test readout — the canonical
product-analytics shapes, expressed as shuffle-minimal DataFrame
pipelines.

Each is a per-user (or per-bucket) aggregation FIRST (the cardinality
reducer), then tiny joins/windows — the order that survives 100 TB:
shuffles carry one row per user/day/bucket, never raw events.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .functions.hashsafe import dsum, davg, sql_davg
from .operators.fixpoint import fixpoint
from .registry import query
from .sources.fixtures import load_table
from .session import fan_out_scan


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered 3-step funnel (view -> click -> purchase): users counted
    at each step only if the step's FIRST event strictly follows the
    previous step's first event. Each step is a per-user min-timestamp
    aggregate followed by a user-keyed join of the (small) survivor
    set — never an event-x-event join."""
    e = load_table(spark, sf_dir, "events")

    def first_after(etype, prev):
        step = (e.filter(F.col("event_type") == etype)
                if prev is None else
                e.filter(F.col("event_type") == etype)
                .join(prev, "user_id")
                .filter(F.col("ts") > F.col("t_prev")))
        return (step.groupBy("user_id")
                .agg(F.min("ts").alias("t_prev")))

    v = first_after("view", None)
    c = first_after("click", v)
    p = first_after("purchase", c)
    return (v.agg(F.count("*").alias("n_view"))
            .crossJoin(c.agg(F.count("*").alias("n_view_click")))
            .crossJoin(p.agg(F.count("*").alias("n_full_funnel"))))


@query(
    "q_retention_cohort",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(cast(ts as date)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT cast(f.cohort_day as string) AS cohort_day,
           date_diff('day', f.cohort_day, cast(e.ts as date)) AS day_offset,
           count(distinct e.user_id) AS n_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohort(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day,
    activity counted per (cohort_day, day offset). The first-seen
    aggregate is one row per user; the event join is user-keyed; the
    final distinct-count shuffles (cohort, offset, user) triples."""
    e = load_table(spark, sf_dir, "events")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(F.to_date("ts")).alias("cohort_day")))
    return (e.join(first_seen, "user_id")
            .select(F.col("cohort_day").cast("string").alias("cohort_day"),
                    F.datediff(F.to_date("ts"),
                               F.col("cohort_day")).alias("day_offset"),
                    "user_id")
            .groupBy("cohort_day", "day_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


@query(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) as bigint)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
           round(cast(sum(cast(value as decimal(30,10))) as double), 4)
             AS sum_value
    FROM numbered GROUP BY 1, 2
    """,
)
def q_sessionize(spark, sf_dir):
    """Batch sessionization by inactivity gap (30 min): the lag ->
    boundary-flag -> running-sum pattern that assigns contiguous
    session ids, then per-session rollup. This is the BATCH twin of
    q_session_window's session_window() operator — same semantics,
    expressed with ordinary windows so it runs on any engine (the
    oracle proves it). One shuffle: everything is partitioned by
    user_id throughout (the two windows and the final groupBy reuse
    the same partitioning — Catalyst plans a single Exchange)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    new_s = (F.when(F.lag("ts").over(w).isNull()
                    | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                       > gap_us), 1)
             .otherwise(0))
    numbered = (e.withColumn("new_s", new_s)
                .withColumn("session_id",
                            F.sum("new_s").over(
                                w.rowsBetween(W.unboundedPreceding, 0))))
    return (numbered.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                 .alias("duration_us"),
                 dsum("value", "sum_value")))


@query(
    "q_rollup_time",
    oracle="""
    SELECT cast(cast(ts as date) as string) AS day,
           cast(date_trunc('hour', ts) as string) AS hour,
           count(*) AS n,
           round(cast(sum(cast(value as decimal(30,10))) as double), 4)
             AS sum_value
    FROM events
    GROUP BY ROLLUP (cast(cast(ts as date) as string),
                     cast(date_trunc('hour', ts) as string))
    """,
)
def q_rollup_time(spark, sf_dir):
    """Time-hierarchy rollup (hour -> day -> grand total in ONE pass):
    the OLAP cube maintenance shape for time series — partial
    aggregates combine map-side, and the rollup lattice means the
    day and total levels are derived from the hour level inside the
    same shuffle, not by re-scanning. Levels are ISO strings so the
    NULL-marked super-aggregate rows hash identically on both
    engines."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").cast("string").alias("day")
    hour = F.date_trunc("hour", "ts").cast("string").alias("hour")
    return (e.rollup(day, hour)
            .agg(F.count("*").alias("n"), dsum("value", "sum_value")))


@query(
    "q_running_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(cast(cast(ts as date) as string)) AS day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT day, count(*) AS new_users FROM first_seen GROUP BY day
    ),
    days AS (
      SELECT DISTINCT cast(cast(ts as date) as string) AS day
      FROM events
    )
    SELECT d.day AS day,
           coalesce(p.new_users, 0) AS new_users,
           cast(sum(coalesce(p.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) as bigint)
             AS cum_distinct_users
    FROM days d LEFT JOIN per_day p ON d.day = p.day
    """,
)
def q_running_distinct(spark, sf_dir):
    """Cumulative distinct users per day WITHOUT a distinct-over-window
    (which would re-scan every prefix — O(days x events)): each user
    collapses to their FIRST-seen day (one groupBy), daily new-user
    counts follow (second tiny agg), and the running sum of new users
    IS the cumulative distinct count — exact, one pass over raw data,
    |days|-sized window state. The standard trick that makes 'DAU
    cumulative reach' computable at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    day_of = F.to_date("ts").cast("string")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(day_of).alias("day")))
    per_day = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    days = e.select(day_of.alias("day")).distinct()
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (days.join(per_day, "day", "left")
            .select("day",
                    F.coalesce("new_users", F.lit(0)).alias("new_users"))
            .withColumn("cum_distinct_users",
                        F.sum("new_users").over(w).cast("bigint")))


@query(
    "q_ab_test",
    oracle="""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT count(CASE WHEN variant = 0 THEN 1 END) AS n_a,
             count(CASE WHEN variant = 0 AND converted = 1 THEN 1 END)
               AS conv_a,
             count(CASE WHEN variant = 1 THEN 1 END) AS n_b,
             count(CASE WHEN variant = 1 AND converted = 1 THEN 1 END)
               AS conv_b
      FROM assign
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(cast(conv_a as double) / n_a, 6) AS p_a,
           round(cast(conv_b as double) / n_b, 6) AS p_b,
           round((cast(conv_a as double) / n_a - cast(conv_b as double) / n_b)
                 / sqrt((cast(conv_a + conv_b as double) / (n_a + n_b))
                        * (1 - cast(conv_a + conv_b as double) / (n_a + n_b))
                        * (cast(1 as double) / n_a
                           + cast(1 as double) / n_b)), 6) AS z
    FROM arms
    """,
)
def q_ab_test(spark, sf_dir):
    """Two-proportion z-test (A/B experiment readout): deterministic
    variant assignment by user key, per-user conversion collapse (ONE
    pass, map-side combinable), then the pooled-proportion z statistic
    from the four integer counts — every division/sqrt is scalar IEEE
    math over exact integers, so the statistic matches bit-for-bit on
    any engine and partitioning. The pattern that replaces 'export to
    a notebook' for experiment analysis at warehouse scale."""
    e = load_table(spark, sf_dir, "events")
    assign = (e.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).alias("converted"))
              .select((F.col("user_id") % 2).alias("variant"), "converted"))
    arms = assign.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when((F.col("variant") == 0)
                       & (F.col("converted") == 1), 1)).alias("conv_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.count(F.when((F.col("variant") == 1)
                       & (F.col("converted") == 1), 1)).alias("conv_b"))
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    pool = ((F.col("conv_a") + F.col("conv_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")))
    z = (pa - pb) / F.sqrt(pool * (1 - pool)
                           * (F.lit(1).cast("double") / F.col("n_a")
                              + F.lit(1).cast("double") / F.col("n_b")))
    return arms.select("n_a", "conv_a", "n_b", "conv_b",
                       F.round(pa, 6).alias("p_a"),
                       F.round(pb, 6).alias("p_b"),
                       F.round(z, 6).alias("z"))


# ---------------------------------------------------------------------------
# Round-4 wave G: trend regression, linear attribution, cohort LTV
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', cast(ts as date)) AS x,
         cast(count(*) as bigint) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, count(*) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(x * x) as bigint) AS sxx,
         cast(sum(x * y) as bigint) AS sxy,
         cast(sum(y * y) as bigint) AS syy
  FROM daily GROUP BY 1
)
SELECT event_type, n,
       round(cast(n * sxy - sx * sy as double)
             / (n * sxx - sx * sx), 6) + 0.0 AS slope,
       round((sy - (cast(n * sxy - sx * sy as double)
                    / (n * sxx - sx * sx)) * sx)
             / cast(n as double), 4) AS intercept,
       round(cast(n * sxy - sx * sy as double)
             * (n * sxy - sx * sy)
             / (cast(n * sxx - sx * sx as double)
                * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


@query("q_ols_regression", oracle=_OLS_ORACLE)
def q_ols_regression(spark, sf_dir):
    """Per-type OLS trend line of the daily volume series (y = counts,
    x = days since the corpus epoch): slope / intercept / R² from
    exact integer power sums — the capacity-forecast and
    volume-drift-direction primitive, one rung beyond
    q_rolling_corr's co-movement. Like q_agg_moments, the sums are
    mergeable (shard sums add — the 100 TB rollup re-aggregates five
    integers per group); every closed form divides exact integers
    once behind a declared round.

    Scale: one map-side-combined rollup, then arithmetic on
    |types| rows."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type",
                       F.datediff(F.col("ts").cast("date"),
                                  F.lit("2024-01-01")).alias("x"))
             .agg(F.count("*").alias("y")))
    s = (daily.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    slope = num.cast("double") / dxx
    return s.select(
        "event_type", "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx"))
                / F.col("n").cast("double"), 4).alias("intercept"),
        F.round(num.cast("double") * num
                / (dxx.cast("double") * dyy), 6).alias("r2"))


_LINEAR_ATTR_ORACLE = """
WITH stream AS (
  SELECT user_id, event_id, ts, event_type,
         min(CASE WHEN event_type = 'purchase' THEN event_id END)
           OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS conv_id
  FROM events
),
touches AS (
  SELECT user_id, conv_id, event_type
  FROM stream
  WHERE conv_id IS NOT NULL
    AND event_type IN ('click', 'view', 'signup')
),
journey AS (
  SELECT user_id, conv_id, cast(count(*) as bigint) AS n_touch
  FROM touches GROUP BY 1, 2
)
SELECT t.event_type,
       cast(count(*) as bigint) AS n_touches,
       cast(round(sum(cast(round(1.0 / j.n_touch, 8)
                           as decimal(14,8))), 4) as double) AS credit
FROM touches t
JOIN journey j ON t.user_id = j.user_id AND t.conv_id = j.conv_id
GROUP BY 1
"""


@query("q_attribution_linear", oracle=_LINEAR_ATTR_ORACLE)
def q_attribution_linear(spark, sf_dir):
    """Linear (equal-split) multi-touch attribution: every touch
    (click/view/signup) preceding a user's next purchase shares that
    conversion's credit equally — the fair-share companion to
    q_attribution_last_touch (last-touch hands 100% to the final
    click; linear exposes upper-funnel contribution). The
    next-conversion id is one forward-looking window min per user;
    per-touch credit 1/n is an 8dp decimal so the per-channel sum is
    order-independent (q_entropy discipline).

    Scale: one user-keyed window exchange + one journey-keyed groupBy
    (both carry events once); the credit join is journey-keyed and
    co-partitioned with the groupBy before it."""
    e = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(0, W.unboundedFollowing))
    stream = e.select(
        "user_id", "event_type",
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("event_id"))).over(w).alias("conv_id"))
    touches = stream.filter(
        F.col("conv_id").isNotNull()
        & F.col("event_type").isin("click", "view", "signup"))
    journey = (touches.groupBy("user_id", "conv_id")
               .agg(F.count("*").alias("n_touch")))
    credit = F.round(F.lit(1.0) / F.col("n_touch"), 8).cast("decimal(14,8)")
    return (touches.join(journey, ["user_id", "conv_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_touches"),
                 F.round(F.sum(credit), 4).cast("double").alias("credit")))


_LTV_ORACLE = """
WITH first_m AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY 1
),
rev AS (
  SELECT f.cohort_m,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
           AS age,
         cast(round(cast(o.o_totalprice as decimal(30,10)), 2) * 100
              as bigint) AS cents
  FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
),
sizes AS (
  SELECT cohort_m, cast(count(*) as bigint) AS n_cust FROM first_m
  GROUP BY 1
),
by_age AS (
  SELECT cohort_m, age, cast(sum(cents) as bigint) AS cents
  FROM rev GROUP BY 1, 2
)
SELECT b.cohort_m, b.age, s.n_cust,
       floor(cast(cast(sum(b.cents) OVER (PARTITION BY b.cohort_m
                                          ORDER BY b.age) as bigint)
                  as double) / s.n_cust + 0.5) / 100 AS cum_ltv
FROM by_age b JOIN sizes s ON b.cohort_m = s.cohort_m
ORDER BY b.cohort_m, b.age
"""


@query("q_cohort_ltv", oracle=_LTV_ORACLE)
def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: customers cohort by first-order
    month; cumulative revenue per cohort member by cohort age (months
    since acquisition) — the LTV companion to q_retention_cohort's
    activity rates, and the payback-period readout growth analytics
    runs. Month arithmetic is integer (year*12+month — portable, no
    months_between float); revenue is exact integer cents; one
    declared-rounded division at the end.

    Scale: first-order month is one groupBy; the age rollup is
    cohort-keyed; the cumulative runs per cohort over |ages| rows."""
    o = load_table(spark, sf_dir, "orders")
    month_i = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    first_m = (o.groupBy("o_custkey")
               .agg(F.min(month_i).alias("cohort_m")))
    cents = (F.round(F.col("o_totalprice").cast("decimal(30,10)"), 2)
             * 100).cast("bigint")
    rev = (o.join(first_m, "o_custkey")
           .select("cohort_m", (month_i - F.col("cohort_m")).alias("age"),
                   cents.alias("cents")))
    sizes = first_m.groupBy("cohort_m").agg(F.count("*").alias("n_cust"))
    by_age = rev.groupBy("cohort_m", "age").agg(F.sum("cents").alias("cents"))
    cum = F.sum("cents").over(
        W.partitionBy("cohort_m").orderBy("age"))
    # explicit floor-based half-up round: round() on the double
    # quotient flips exact .005 ties differently per engine (Spark
    # HALF_UP vs DuckDB HALF_EVEN); floor(x*100+0.5)/100 is the same
    # double arithmetic everywhere (cents/n IS exactly ltv*100)
    ltv = F.floor(cum.cast("double") / F.col("n_cust") + 0.5) / 100
    return (by_age.join(F.broadcast(sizes), "cohort_m")
            .select("cohort_m", "age", "n_cust", ltv.alias("cum_ltv"))
            .orderBy("cohort_m", "age"))


_SKYLINE_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         cast(count(*) as bigint) AS freq,
         cast(round(sum(cast(o_totalprice as decimal(30,10))), 2) * 100
              as bigint) AS cents
  FROM orders GROUP BY 1
),
flagged AS (
  SELECT o_custkey, freq, cents,
         max(cents) OVER (ORDER BY freq DESC
                          RANGE BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS best_higher,
         max(cents) OVER (PARTITION BY freq) AS best_same
  FROM per_cust
)
SELECT o_custkey, freq,
       round(cast(cents as double) / 100, 2) AS monetary
FROM flagged
WHERE cents > coalesce(best_higher, -1) AND cents = best_same
ORDER BY freq DESC, o_custkey
"""


@query("q_skyline", oracle=_SKYLINE_ORACLE)
def q_skyline(spark, sf_dir):
    """Skyline (Pareto frontier) of customers over (order frequency,
    total spend), both maximized: a customer survives iff nobody has
    >= on both dimensions with > on one — the classic multi-criteria
    operator (BNL/SFS literature) behind "best trade-off" shortlists.
    Computed in the sort-filter-skyline form: one sort by freq desc
    and two window maxes replace the naive O(n²) dominance self-join —
    a row survives iff its spend beats every strictly-higher-frequency
    row (RANGE ... 1 PRECEDING excludes freq ties) and no same-freq
    row spends strictly more. Exact integer cents; ties on both
    dimensions are mutually non-dominating and both survive.

    Scale: one groupBy + one range-partitioned sort over |customers|;
    at 100 TB pre-filter with a coarse grid skyline per partition
    (local skyline union is a superset of the global one), then run
    this exact pass on the survivors."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = (o.groupBy("o_custkey")
                .agg(F.count("*").alias("freq"),
                     (F.round(F.sum(F.col("o_totalprice")
                                    .cast("decimal(30,10)")), 2) * 100)
                     .cast("bigint").alias("cents")))
    w_higher = (W.orderBy(F.desc("freq"))
                .rangeBetween(W.unboundedPreceding, -1))
    flagged = per_cust.select(
        "o_custkey", "freq", "cents",
        F.max("cents").over(w_higher).alias("best_higher"),
        F.max("cents").over(W.partitionBy("freq")).alias("best_same"))
    return (flagged.filter(
                (F.col("cents") > F.coalesce("best_higher", F.lit(-1)))
                & (F.col("cents") == F.col("best_same")))
            .select("o_custkey", "freq",
                    F.round(F.col("cents").cast("double") / 100, 2)
                    .alias("monetary"))
            .orderBy(F.desc("freq"), "o_custkey"))


_WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag,
         cast(round(cast(l_extendedprice as decimal(30,10)), 2) * 100
              as bigint) AS cents,
         cast(l_quantity as bigint) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, cents, wt,
         cast(sum(wt) OVER (PARTITION BY l_returnflag
                            ORDER BY cents, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) as bigint) AS cw,
         cast(sum(wt) OVER (PARTITION BY l_returnflag) as bigint) AS tw
  FROM w
)
SELECT l_returnflag, max(tw) AS total_weight,
       round(cast(min(CASE WHEN 2 * cw >= tw THEN cents END) as double)
             / 100, 2) AS weighted_median
FROM cum GROUP BY 1
"""


@query("q_weighted_percentile", oracle=_WMEDIAN_ORACLE)
def q_weighted_percentile(spark, sf_dir):
    """Quantity-weighted median price per return flag: the first price
    (in deterministic (price, orderkey, linenumber) order) whose
    cumulative weight reaches half the total — the lower-bound
    weighted-median convention, which is pure integer arithmetic (the
    2*cw >= tw compare avoids fractional halves entirely), unlike the
    interpolated form whose midpoint math is engine-variant. Weighted
    quantiles are what pricing/capacity analytics need when rows
    represent unequal volumes (q_percentiles treats each row as
    weight 1).

    Scale: one per-flag sort window + per-flag aggregate — the same
    envelope as any exact percentile; swap in a weighted sketch at
    100 TB if the per-key sort becomes the bottleneck."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        (F.round(F.col("l_extendedprice").cast("decimal(30,10)"), 2) * 100)
        .cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey", "l_linenumber")
    win = (W.partitionBy("l_returnflag")
           .orderBy("cents", "l_orderkey", "l_linenumber")
           .rowsBetween(W.unboundedPreceding, 0))
    cum = w.select(
        "l_returnflag", "cents", "wt",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(W.partitionBy("l_returnflag")).alias("tw"))
    return (cum.groupBy("l_returnflag")
            .agg(F.max("tw").alias("total_weight"),
                 F.round(F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                                      F.col("cents"))).cast("double") / 100,
                         2).alias("weighted_median")))


_TEMPORAL_ORACLE = """
WITH versions AS (
  SELECT c_custkey, v.v AS version,
         DATE '2024-01-01' + INTERVAL (v.v * 30 + c_custkey % 7) DAY
           AS valid_from,
         c_mktsegment || '-v' || cast(v.v as varchar) AS segment_version
  FROM customer CROSS JOIN range(0, 3) v(v)
),
matched AS (
  SELECT e.event_id, e.user_id, e.value, ver.segment_version,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY ver.valid_from DESC, ver.version DESC) AS rk
  FROM events e
  JOIN versions ver
    ON ver.c_custkey = e.user_id
   AND cast(ver.valid_from as date) <= cast(e.ts as date)
)
SELECT segment_version,
       count(*) AS n_events,
       cast(round(sum(cast(round(cast(value as decimal(20,10)), 3) * 1000
                     as bigint)) / 1000.0, 3)
            as double) AS sum_value
FROM matched WHERE rk = 1
GROUP BY 1
"""


@query("q_temporal_join", oracle=_TEMPORAL_ORACLE)
def q_temporal_join(spark, sf_dir):
    """Temporal (point-in-validity) dimension join — the SCD2 lookup:
    each event joins the customer-dimension VERSION that was valid at
    the event's date (three deterministic 30-day versions per customer
    synthesized from custkey), resolved as the argmax valid_from <=
    event_date — the as-of pattern (q_join_asof) applied to dimension
    history (q_scd2 builds such histories; this query CONSUMES one).
    Events before their first version drop out (inner semantics).

    Scale: the version relation is |dims| x versions and broadcasts;
    the per-event argmax is a window over <= 3 candidate rows — no
    event-x-event work. At 100 TB the equivalent merge_asof cogroup
    (operators/asof.py) takes over when dimension history is too deep
    to broadcast."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    vs = spark.range(0, 3).select(F.col("id").cast("int").alias("v"))
    versions = (c.crossJoin(F.broadcast(vs))
                .select("c_custkey", F.col("v").alias("version"),
                        F.date_add(F.lit("2024-01-01").cast("date"),
                                   F.col("v") * 30
                                   + (F.col("c_custkey") % 7).cast("int"))
                        .alias("valid_from"),
                        F.concat(F.col("c_mktsegment"), F.lit("-v"),
                                 F.col("v").cast("string"))
                        .alias("segment_version")))
    j = (e.join(F.broadcast(versions),
                (versions.c_custkey == e.user_id)
                & (F.col("valid_from") <= F.col("ts").cast("date"))))
    rk = F.row_number().over(
        W.partitionBy("event_id").orderBy(F.desc("valid_from"),
                                          F.desc("version")))
    milli = (F.round(F.col("value").cast("decimal(20,10)"), 3)
             * 1000).cast("bigint")
    return (j.withColumn("rk", rk).filter(F.col("rk") == 1)
            .groupBy("segment_version")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(milli) / 1000.0, 3).cast("double")
                 .alias("sum_value")))


_ISLANDS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id,
         event_id - row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS grp
  FROM events
),
islands AS (
  SELECT user_id, grp, count(*) AS run_len
  FROM seq GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_islands,
       cast(max(run_len) as bigint) AS longest_run,
       cast(sum(run_len) as bigint) AS n_events
FROM islands
GROUP BY 1
ORDER BY longest_run DESC, user_id
LIMIT 20
"""


@query("q_gaps_islands", oracle=_ISLANDS_ORACLE)
def q_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive event_ids per
    user via the classic id-minus-row_number grouping key (consecutive
    ids share one key) — the sequence-integrity primitive behind
    missing-data detection, delivery-gap audits, and contiguous-range
    compaction (q_compaction_plan packs by size; this finds the
    natural contiguous ranges). Top-20 users by longest run.

    Scale: one user-keyed window + two stacked groupBys on the same
    key — a single exchange end-to-end."""
    e = load_table(spark, sf_dir, "events")
    grp = (F.col("event_id")
           - F.row_number().over(
               W.partitionBy("user_id").orderBy("event_id")))
    islands = (e.select("user_id", "event_id", grp.alias("grp"))
               .groupBy("user_id", "grp")
               .agg(F.count("*").alias("run_len")))
    return (islands.groupBy("user_id")
            .agg(F.count("*").alias("n_islands"),
                 F.max("run_len").alias("longest_run"),
                 F.sum("run_len").alias("n_events"))
            .orderBy(F.desc("longest_run"), "user_id").limit(20))


# ---------------------------------------------------------------------------
# q_bitmap_index — packed-bitmap audience segments (exact twin of the
# HLL overlap in q_audience_overlap)
# ---------------------------------------------------------------------------


@query(
    "q_bitmap_index",
    oracle="""
    WITH bm AS (
      SELECT event_type, user_id // 63 AS bucket,
             bit_or(cast(1 as bigint) << cast(user_id % 63 as int))
               AS bits
      FROM events GROUP BY 1, 2
    ),
    sizes AS (
      SELECT event_type, cast(sum(bit_count(bits)) as bigint) AS n_users
      FROM bm GROUP BY 1
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             cast(sum(bit_count(a.bits & b.bits)) as bigint) AS n_common
      FROM bm a JOIN bm b
        ON a.bucket = b.bucket AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
           i.n_common
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b
    """,
)
def q_bitmap_index(spark, sf_dir):
    """Packed-bitmap audience segments: each (segment, 63-user bucket)
    folds its members into ONE int64 via bit_or(1 << user%63) —
    63 ids per word, not 64, because DuckDB raises on a shift into
    the sign bit while Spark wraps (the one semantic asymmetry in the
    two engines' int64 bit algebra); segment
    cardinalities are popcount sums and every pairwise segment
    intersection is a bucket-aligned join + popcount(a & b) — the
    roaring-bitmap-index pattern, as pure codegen integer ops. This is
    the EXACT twin of q_audience_overlap's HLL estimate: bitmaps when
    the id space is dense enough to afford |ids|/8 bits of state,
    sketches when it is not.

    Scale: the shuffle carries one int64 per (segment, 63 ids) —
    a 63x reduction before the join; intersections join on the bucket
    key only where both segments have members. At 100 TB with sparse
    id spaces the same query swaps the dense int64 for a roaring
    container per bucket range; the algebra (OR to build, AND+popcount
    to intersect) is unchanged. Only popcounts ever
    leave the query, so no sign-bit representation issue can reach
    the value hash."""
    e = load_table(spark, sf_dir, "events")
    bm = (e.groupBy("event_type",
                    (F.col("user_id") / 63).cast("bigint").alias("bucket"))
          .agg(F.bit_or(F.expr(
                   "shiftleft(cast(1 as bigint), "
                   "cast(user_id % 63 as int))")).alias("bits")))
    sizes = (bm.groupBy("event_type")
             .agg(F.sum(F.bit_count("bits")).alias("n_users")))
    a = bm.select(F.col("event_type").alias("type_a"), "bucket",
                  F.col("bits").alias("bits_a"))
    b = bm.select(F.col("event_type").alias("type_b"), "bucket",
                  F.col("bits").alias("bits_b"))
    inter = (a.join(b, "bucket")
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.sum(F.bit_count(F.col("bits_a")
                                    .bitwiseAND(F.col("bits_b"))))
                  .alias("n_common")))
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n_users").alias("n_b"))
    return (inter.join(F.broadcast(sa), "type_a")
            .join(F.broadcast(sb), "type_b")
            .select("type_a", "type_b", "n_a", "n_b", "n_common")
            .orderBy("type_a", "type_b"))


# ---------------------------------------------------------------------------
# q_markov_attribution — removal-effect multi-touch attribution
# ---------------------------------------------------------------------------

_MK_STEPS = 12
_MK_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    scen = ", ".join(f"('{c}')" for c in ("full",) + _MK_CHANNELS)
    steps = []
    prev = "v0"
    for i in range(1, _MK_STEPS + 1):
        steps.append(f""",
v{i} AS (
  SELECT v.scenario, p.dst AS state,
         cast(round(cast(sum(v.mass * p.p) as double), 8)
              as decimal(10,8)) AS mass
  FROM {prev} v JOIN sprobs p
    ON p.scenario = v.scenario AND p.src = v.state
  GROUP BY 1, 2
)""")
        prev = f"v{i}"
    return f"""
WITH conv_ts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS cts,
         min(CASE WHEN event_type = 'purchase'
                  THEN event_id END) AS cid
  FROM events GROUP BY user_id
),
pre AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id,
         (c.cts IS NOT NULL) AS converts
  FROM events e JOIN conv_ts c ON c.user_id = e.user_id
  WHERE c.cts IS NULL OR (e.ts, e.event_id) < (c.cts, c.cid)
),
seq AS (
  SELECT user_id, event_type, converts,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lead(event_type) OVER w AS nxt
  FROM pre
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
trans AS (
  SELECT 'S' AS src, event_type AS dst FROM seq WHERE rn = 1
  UNION ALL
  SELECT event_type, coalesce(nxt, CASE WHEN converts THEN 'C'
                                        ELSE 'N' END)
  FROM seq
  UNION ALL
  SELECT 'S', 'C'
  FROM conv_ts c
  WHERE c.cts IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM pre WHERE pre.user_id = c.user_id)
),
cnt AS (SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2),
probs AS (
  SELECT src, dst,
         cast(round(n / cast(sum(n) OVER (PARTITION BY src) as double),
                    6) as decimal(8,6)) AS p
  FROM cnt
),
scen AS (SELECT * FROM (VALUES {scen}) s(scenario)),
sprobs AS (
  SELECT scenario, src, dst, cast(sum(p) as decimal(8,6)) AS p
  FROM (
    SELECT s.scenario, p.src,
           CASE WHEN p.dst = s.scenario THEN 'N' ELSE p.dst END AS dst,
           p.p
    FROM probs p CROSS JOIN scen s
    UNION ALL
    SELECT s.scenario, a.state, a.state, cast(1 as decimal(8,6))
    FROM (VALUES ('C'), ('N')) a(state) CROSS JOIN scen s
  ) GROUP BY 1, 2, 3
),
v0 AS (
  SELECT scenario, 'S' AS state, cast(1 as decimal(10,8)) AS mass
  FROM scen
){''.join(steps)},
conv AS (
  SELECT scenario,
         round(cast(coalesce(max(CASE WHEN state = 'C'
                                      THEN mass END), 0) as double), 6)
           AS p_conv
  FROM v{_MK_STEPS} GROUP BY scenario
),
eff AS (
  SELECT c.scenario AS channel,
         (SELECT p_conv FROM conv WHERE scenario = 'full') AS p_full,
         c.p_conv AS removal_conv,
         round((SELECT p_conv FROM conv WHERE scenario = 'full')
               - c.p_conv, 6) + 0.0 AS removal_effect
  FROM conv c WHERE c.scenario <> 'full'
)
SELECT channel, p_full AS p_conv_full, removal_conv, removal_effect,
       round(removal_effect
             / nullif(sum(removal_effect) OVER (), 0), 6) + 0.0
         AS attribution_share
FROM eff
ORDER BY channel
"""


@query("q_markov_attribution", oracle=_markov_oracle())
def q_markov_attribution(spark, sf_dir):
    """Markov-chain removal-effect attribution (the third rung after
    q_attribution_last_touch / _linear): build the first-order channel
    transition model from pre-conversion journeys (start -> channels
    -> purchase-conversion or null), then credit each channel by how
    much the {K}-step conversion probability DROPS when its node is
    removed (transitions into it leak to null) — the standard
    data-driven alternative to positional credit. All five scenarios
    (full + 4 removals) propagate in ONE unrolled chain over a
    (scenario, state) vector; per-step masses are 8dp decimals and the
    6dp-quantized transition matrix is identical on both engines, so
    an absorbing-chain computation is value-hash-checked end to end.

    Scale: journeys cost one user-keyed window pass over the fact
    table; everything after runs on the ~30-cell transition matrix and
    a 5x6 state vector — the attribution math is corpus-size
    independent, exactly like kmeans' centroid updates. K=12 bounds
    truncation error below the 6dp readout (journeys here are ~5
    steps)."""
    e = load_table(spark, sf_dir, "events")
    isconv = F.col("event_type") == "purchase"
    conv = (e.groupBy("user_id")
            .agg(F.min(F.when(isconv, F.col("ts"))).alias("cts"),
                 F.min(F.when(isconv, F.col("event_id"))).alias("cid")))
    j = e.join(conv, "user_id")
    pre = (j.filter(F.col("cts").isNull()
                    | (F.struct("ts", "event_id")
                       < F.struct(F.col("cts").alias("ts"),
                                  F.col("cid").alias("event_id"))))
           .select("user_id", "event_type", "ts", "event_id",
                   F.col("cts").isNotNull().alias("converts")))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pre.select(
        "user_id", "event_type", "converts",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("nxt"))
    first = (seq.filter(F.col("rn") == 1)
             .select(F.lit("S").alias("src"),
                     F.col("event_type").alias("dst")))
    mids = seq.select(
        F.col("event_type").alias("src"),
        F.coalesce(F.col("nxt"),
                   F.when(F.col("converts"), "C").otherwise("N"))
        .alias("dst"))
    direct = (conv.filter(F.col("cts").isNotNull())
              .join(pre.select("user_id").distinct(), "user_id",
                    "left_anti")
              .select(F.lit("S").alias("src"), F.lit("C").alias("dst")))
    cnt = (first.unionByName(mids).unionByName(direct)
           .groupBy("src", "dst").agg(F.count("*").alias("n")))
    probs = cnt.select(
        "src", "dst",
        F.round(F.col("n")
                / F.sum("n").over(W.partitionBy("src")).cast("double"),
                6).cast("decimal(8,6)").alias("p"))
    scen = spark.createDataFrame(
        [(s,) for s in ("full",) + _MK_CHANNELS], "scenario string")
    redirected = (probs.crossJoin(F.broadcast(scen))
                  .select("scenario", "src",
                          F.when(F.col("dst") == F.col("scenario"), "N")
                          .otherwise(F.col("dst")).alias("dst"), "p"))
    absorbing = (spark.createDataFrame([("C",), ("N",)], "state string")
                 .crossJoin(F.broadcast(scen))
                 .select("scenario", F.col("state").alias("src"),
                         F.col("state").alias("dst"),
                         F.lit(1).cast("decimal(8,6)").alias("p")))
    sprobs = (redirected.unionByName(absorbing)
              .groupBy("scenario", "src", "dst")
              .agg(F.sum("p").cast("decimal(8,6)").alias("p"))
              .persist())
    v = scen.select("scenario", F.lit("S").alias("state"),
                    F.lit(1).cast("decimal(10,8)").alias("mass"))

    def _step(v, _):
        vv, pp = v.alias("vv"), sprobs.alias("pp")
        return (vv.join(pp, (F.col("pp.scenario") == F.col("vv.scenario"))
                        & (F.col("pp.src") == F.col("vv.state")))
                .groupBy(F.col("pp.scenario").alias("scenario"),
                         F.col("pp.dst").alias("state"))
                .agg(F.round(F.sum(F.col("vv.mass") * F.col("pp.p"))
                             .cast("double"), 8).cast("decimal(10,8)")
                     .alias("mass")))

    v = fixpoint(v, _step, _MK_STEPS, every=4)
    sprobs.unpersist()  # the final v is materialized; nothing re-reads it
    pc = (v.groupBy("scenario")
          .agg(F.round(F.coalesce(
              F.max(F.when(F.col("state") == "C", F.col("mass"))),
              F.lit(0)).cast("double"), 6).alias("p_conv")))
    full = pc.filter(F.col("scenario") == "full") \
             .select(F.col("p_conv").alias("p_full"))
    eff = (pc.filter(F.col("scenario") != "full")
           .crossJoin(F.broadcast(full))
           .select(F.col("scenario").alias("channel"),
                   F.col("p_full").alias("p_conv_full"),
                   F.col("p_conv").alias("removal_conv"),
                   (F.round(F.col("p_full") - F.col("p_conv"), 6) + 0.0)
                   .alias("removal_effect")))
    return (eff.select(
        "channel", "p_conv_full", "removal_conv", "removal_effect",
        (F.round(F.col("removal_effect")
                 / F.nullif(F.sum("removal_effect")
                            .over(W.partitionBy()), F.lit(0.0)), 6)
         + 0.0).alias("attribution_share"))
        .orderBy("channel"))


# ---------------------------------------------------------------------------
# q_attribution_shapley — exact Shapley values over channel coalitions
# ---------------------------------------------------------------------------

_SHAP_BITS = {"click": 1, "error": 2, "signup": 4, "view": 8}


def _shapley_expr(bit: int) -> str:
    """24*phi subset-sum for one channel over v0..v15 cells, terms in
    fixed ascending-subset order so both engines run the identical
    float expression tree. Weights |S|!*(3-|S|)! for n=4 channels."""
    fact = [1, 1, 2, 6]
    others = [b for b in _SHAP_BITS.values() if b != bit]
    terms = []
    for s in range(16):
        if s & bit or (s | sum(others)) != sum(others):
            continue
        w = fact[bin(s).count("1")] * fact[3 - bin(s).count("1")]
        terms.append(f"{w} * (v{s | bit} - v{s})")
    return "(" + " + ".join(terms) + ") / 24.0"


def _shapley_cells_sql() -> str:
    vcols = ", ".join(
        f"coalesce(max(CASE WHEN mask = {k} THEN v END), 0.0) AS v{k}"
        for k in range(16))
    return f"""
cnt AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, c AS m FROM (
    SELECT event_type, c,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c, user_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM cnt
  ) WHERE rn = (n + 1) // 2
),
expo AS (
  SELECT c.user_id, c.event_type
  FROM cnt c JOIN med m ON m.event_type = c.event_type
  WHERE c.c > m.m
),
umask AS (
  SELECT u.user_id,
         coalesce(sum(CASE e.event_type
                      WHEN 'click' THEN 1 WHEN 'error' THEN 2
                      WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                      ELSE 0 END), 0) AS mask,
         coalesce(max(CASE WHEN e.event_type = 'purchase'
                           THEN 1 ELSE 0 END), 0) AS conv
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN expo e ON e.user_id = u.user_id
  GROUP BY 1
),
cells AS (
  SELECT mask, round(sum(conv) * 1.0 / count(*), 10) AS v
  FROM umask GROUP BY mask
),
vrow AS (SELECT {vcols} FROM cells)
"""


@query(
    "q_attribution_shapley",
    oracle="WITH " + _shapley_cells_sql() + "\n"
    + "SELECT channel, round(phi, 6) + 0.0 AS shapley FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{ch}' AS channel, {_shapley_expr(b)} AS phi FROM vrow"
        for ch, b in sorted(_SHAP_BITS.items()))
    + "\n) ORDER BY channel",
)
def q_attribution_shapley(spark, sf_dir):
    """Exact Shapley-value channel attribution (Shapley 1953 as
    applied to marketing coalitions, Zhao et al. 2018): users'
    exposed-channel sets form coalitions (exposure = per-type event
    count above that type's across-user median — deterministic and
    scale-free), the coalition value v(S) is the conversion rate
    (above-median purchase activity) of users exposed to exactly S,
    and each of the 4 channels gets its factorial-weighted average
    marginal contribution over all 2^3 sub-coalitions. The 16 cell
    values are 10dp-quantized and the subset-sum runs in one fixed
    ascending order, so both engines evaluate the identical float
    tree; completes the attribution ladder (last-touch / linear /
    Markov removal-effect) with the game-theoretic member.

    Scale: one (user, type) count aggregation, a 5-row median
    broadcast, one user-mask aggregation, then a 16-cell pivot —
    the Shapley algebra itself is O(n·2^n) on ONE row, constant at
    any log volume. For n >> 10 channels production switches to
    sampled permutations; exact enumeration is the right call at 4."""
    e = load_table(spark, sf_dir, "events")
    cnt = (e.groupBy("user_id", "event_type")
           .agg(F.count("*").alias("c")))
    wt = W.partitionBy("event_type")
    med = (cnt.select("event_type", "c",
                      F.row_number().over(wt.orderBy("c", "user_id"))
                      .alias("rn"),
                      F.count("*").over(wt).alias("n"))
           .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("event_type", F.col("c").alias("m")))
    expo = (cnt.join(med, "event_type")
            .filter(F.col("c") > F.col("m"))
            .select("user_id", "event_type"))
    users = e.select("user_id").distinct()
    bit = (F.when(F.col("event_type") == "click", 1)
           .when(F.col("event_type") == "error", 2)
           .when(F.col("event_type") == "signup", 4)
           .when(F.col("event_type") == "view", 8).otherwise(0))
    umask = (users.join(expo, "user_id", "left")
             .groupBy("user_id")
             .agg(F.coalesce(F.sum(bit), F.lit(0)).alias("mask"),
                  F.coalesce(F.max(
                      (F.col("event_type") == "purchase").cast("int")),
                      F.lit(0)).alias("conv")))
    cells = (umask.groupBy("mask")
             .agg(F.round(F.sum("conv") / F.count("*"), 10).alias("v")))
    vrow = cells.agg(*[
        F.coalesce(F.max(F.when(F.col("mask") == k, F.col("v"))),
                   F.lit(0.0)).alias(f"v{k}")
        for k in range(16)])
    stacked = vrow.select(F.expr(
        "stack(4, " + ", ".join(
            f"'{ch}', {_shapley_expr(b)}"
            for ch, b in sorted(_SHAP_BITS.items()))
        + ") as (channel, phi)"))
    return (stacked.select("channel",
                           (F.round("phi", 6) + 0.0).alias("shapley"))
            .orderBy("channel"))


# ---------------------------------------------------------------------------
# q_huber_regression — robust IRLS regression with Huber weights
# ---------------------------------------------------------------------------

# Synthetic regression task with KNOWN coefficients and gross outliers:
# y = 3 + 2x + noise((value-50)/10), every 37th point +80. OLS is
# dragged by the outliers; 3 IRLS rounds with Huber delta=5 must
# recover (3, 2) (test-pinned).
_HUBER_OBS = """
obs AS MATERIALIZED (
  SELECT event_id % 50 AS x,
         3.0 + 2.0 * (event_id % 50) + (value - 50.0) / 10.0
           + CASE WHEN event_id % 37 = 0 THEN 80.0 ELSE 0.0 END AS y
  FROM events
)"""
_HUBER_ITERS = 3


def _huber_oracle() -> str:
    steps = []
    for k in range(1, _HUBER_ITERS + 1):
        steps.append(f""",
w{k} AS (
  SELECT x, y,
         round(CASE WHEN abs(y - b0 - b1 * x) <= 5.0 THEN 1.0
               ELSE 5.0 / abs(y - b0 - b1 * x) END, 10) AS w
  FROM obs CROSS JOIN i{k - 1}
),
s{k} AS (
  SELECT cast(sum(cast(w as decimal(30,10))) as double) AS sw,
         cast(sum(cast(round(w * x, 10) as decimal(30,10)))
              as double) AS swx,
         cast(sum(cast(round(w * y, 10) as decimal(30,10)))
              as double) AS swy,
         cast(sum(cast(round((w * x) * x, 10) as decimal(30,10)))
              as double) AS swxx,
         cast(sum(cast(round((w * x) * y, 10) as decimal(30,10)))
              as double) AS swxy
  FROM w{k}
),
i{k} AS (
  SELECT round((sw * swxy - swx * swy)
               / (sw * swxx - swx * swx), 10) AS b1,
         round((swy - round((sw * swxy - swx * swy)
                            / (sw * swxx - swx * swx), 10) * swx)
               / sw, 10) AS b0
  FROM s{k}
)""")
    last = f"i{_HUBER_ITERS}"
    return f"""
WITH {_HUBER_OBS},
s0 AS (
  SELECT count(*) AS n,
         cast(sum(x) as double) AS sx,
         cast(sum(x * x) as double) AS sxx,
         cast(sum(cast(y as decimal(30,10))) as double) AS sy,
         cast(sum(cast(x * y as decimal(30,10))) as double) AS sxy
  FROM obs
),
i0 AS (
  SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 10) AS b1,
         round((sy - round((n * sxy - sx * sy)
                           / (n * sxx - sx * sx), 10) * sx) / n, 10)
           AS b0
  FROM s0
){''.join(steps)},
dw AS (
  SELECT count(*) AS n_downweighted
  FROM obs CROSS JOIN {last}
  WHERE abs(y - b0 - b1 * x) > 5.0
)
SELECT method, round(b0, 6) + 0.0 AS intercept,
       round(b1, 6) + 0.0 AS slope, n_downweighted
FROM (
  SELECT 'huber' AS method, b0, b1,
         (SELECT n_downweighted FROM dw) AS n_downweighted
  FROM {last}
  UNION ALL
  SELECT 'ols', b0, b1, 0 FROM i0
) ORDER BY method
"""


@query("q_huber_regression", oracle=_huber_oracle())
def q_huber_regression(spark, sf_dir):
    """Robust regression by iteratively-reweighted least squares with
    Huber weights (w = 1 inside delta=5, delta/|r| outside), 3
    rounds from an OLS start, on a series with deterministic gross
    outliers (+80 on every 37th point) — OLS is dragged off the true
    (intercept 3, slope 2), Huber recovers them (test-pinned): the
    robust-fit primitive quality pipelines use when metrics carry
    heavy-tailed corruption. Each round's weights and weighted
    products are 10dp-quantized before decimal-exact summation, and
    every closed form divides identically-built doubles, so all 3
    rounds hash-match the oracle's unrolled CTE chain. Outputs both
    fits plus the final downweighted-point count.

    Scale: each IRLS round is one full scan with a broadcast 1-row
    coefficient join and a map-side-combined 5-sum aggregation —
    3 rounds = 3 scans, no shuffle wider than the sufficient
    statistics; the q_logistic_train Newton shape with cheaper
    per-round math."""
    e = load_table(spark, sf_dir, "events")
    DECS = "decimal(30,10)"
    # round-robin fan-out before the persist: the single-row-group
    # events scan otherwise serializes all five decimal aggregation
    # passes onto one core; exact decimal sums are order-independent
    # (optimization round r11)
    obs = e.select(
        (F.col("event_id") % 50).alias("x"),
        (3.0 + 2.0 * (F.col("event_id") % 50)
         + (F.col("value") - 50.0) / 10.0
         + F.when(F.col("event_id") % 37 == 0, 80.0).otherwise(0.0))
        .alias("y"))
    obs = fan_out_scan(obs).persist()
    s0 = obs.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(DECS)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DECS)).cast("double")
        .alias("sxy"))
    b1_0 = F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                   / (F.col("n") * F.col("sxx")
                      - F.col("sx") * F.col("sx")), 10)
    # Eagerly checkpoint the 1-row coefficient frames (optimization
    # round r12, §5 lineage): lazily, the OLS seed ran TWICE (ols
    # output row + round-1 chain seed) and the final coef's whole
    # IRLS chain TWICE more (hub's left side + inside dw's broadcast)
    # — ~9 sequential passes over the cached obs where the algorithm
    # needs 5. Each checkpoint materializes one row.
    ols = s0.select(
        b1_0.alias("b1"),
        F.round((F.col("sy") - b1_0 * F.col("sx")) / F.col("n"), 10)
        .alias("b0")).localCheckpoint(eager=True)

    def _irls(coef, _):
        r = F.col("y") - F.col("b0") - F.col("b1") * F.col("x")
        w = F.round(F.when(F.abs(r) <= 5.0, 1.0)
                    .otherwise(5.0 / F.abs(r)), 10)
        wk = obs.crossJoin(F.broadcast(coef)).select("x", "y",
                                                     w.alias("w"))
        sk = wk.agg(
            F.sum(F.col("w").cast(DECS)).cast("double").alias("sw"),
            F.sum(F.round(F.col("w") * F.col("x"), 10).cast(DECS))
            .cast("double").alias("swx"),
            F.sum(F.round(F.col("w") * F.col("y"), 10).cast(DECS))
            .cast("double").alias("swy"),
            F.sum(F.round((F.col("w") * F.col("x")) * F.col("x"), 10)
                  .cast(DECS)).cast("double").alias("swxx"),
            F.sum(F.round((F.col("w") * F.col("x")) * F.col("y"), 10)
                  .cast(DECS)).cast("double").alias("swxy"))
        b1k = F.round((F.col("sw") * F.col("swxy")
                       - F.col("swx") * F.col("swy"))
                      / (F.col("sw") * F.col("swxx")
                         - F.col("swx") * F.col("swx")), 10)
        return sk.select(
            b1k.alias("b1"),
            F.round((F.col("swy") - b1k * F.col("swx")) / F.col("sw"),
                    10).alias("b0"))

    # the rounds stay one lazy chain; only the final coefficients are
    # materialized
    coef = fixpoint(ols, _irls, _HUBER_ITERS, every=_HUBER_ITERS)
    rfin = F.col("y") - F.col("b0") - F.col("b1") * F.col("x")
    dw = (obs.crossJoin(F.broadcast(coef))
          .filter(F.abs(rfin) > 5.0)
          .agg(F.count("*").alias("n_downweighted")))
    hub = (coef.crossJoin(F.broadcast(dw))
           .select(F.lit("huber").alias("method"), "b0", "b1",
                   "n_downweighted"))
    olsrow = ols.select(F.lit("ols").alias("method"), "b0", "b1",
                        F.lit(0).cast("long").alias("n_downweighted"))
    return (hub.unionByName(olsrow)
            .select("method",
                    (F.round("b0", 6) + 0.0).alias("intercept"),
                    (F.round("b1", 6) + 0.0).alias("slope"),
                    "n_downweighted")
            .orderBy("method"))


# ---------------------------------------------------------------------------
# q_cuped — pre-experiment covariate variance reduction
# ---------------------------------------------------------------------------


@query(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, cast(user_id % 2 as integer) AS variant,
             cast(sum(CASE WHEN date_part('day', ts) <= 15
                           THEN cast(value as decimal(30,10))
                           ELSE cast(0 as decimal(30,10)) END)
                  as double) AS x,
             cast(sum(CASE WHEN date_part('day', ts) > 15
                           THEN cast(value as decimal(30,10))
                           ELSE cast(0 as decimal(30,10)) END)
                  as double) AS y
      FROM events GROUP BY 1, 2
    ),
    moments AS (
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(cast(x as decimal(30,10))) as double) AS sx,
             cast(sum(cast(y as decimal(30,10))) as double) AS sy,
             cast(sum(cast(x * y as decimal(30,10))) as double) AS sxy,
             cast(sum(cast(x * x as decimal(30,10))) as double) AS sxx
      FROM per_user
    ),
    params AS (
      SELECT round((sxy - sx * sy / n) / (sxx - sx * sx / n), 10)
               AS theta,
             round(sx / n, 10) AS mx
      FROM moments
    ),
    adjusted AS (
      SELECT variant, y,
             round(y - theta * (x - mx), 8) AS y_adj
      FROM per_user, params
    )
    SELECT variant, cast(count(*) as bigint) AS n_users,
           {sql_davg('y', 'mean_y', gdp=2)},
           {sql_davg('y_adj', 'mean_y_adj', gdp=8)},
           round((cast(sum(cast(round(y * y, 6) as decimal(30,10)))
                       as double)
                  - cast(sum(cast(y as decimal(30,10))) as double)
                    * sum(cast(y as decimal(30,10))) / count(*))
                 / count(*), 2) AS var_y,
           round((cast(sum(cast(round(y_adj * y_adj, 6)
                                as decimal(30,10))) as double)
                  - cast(sum(cast(y_adj as decimal(30,10))) as double)
                    * sum(cast(y_adj as decimal(30,10))) / count(*))
                 / count(*), 2) AS var_y_adj
    FROM adjusted GROUP BY variant ORDER BY variant
    """,
)
def q_cuped(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM'13): adjust each user's experiment-period metric Y by the
    pooled regression on their pre-period metric X — Y' = Y -
    theta(X - mean X), theta = cov(X,Y)/var(X) — which removes the
    between-user variance X explains and shrinks the A/B confidence
    interval at identical sample size. Days 1-15 are the pre-period,
    16-30 the experiment; variant = user_id % 2 (the md5-free split is
    fine here: the point is the variance accounting, and user_id is
    the unit of randomization either way). All reductions are exact
    decimal; theta and mean-X are 10dp-pinned scalars broadcast into
    the per-user adjustment, and per-row squares are 6dp-quantized
    before the decimal variance sums so both engines hash-match.

    Scale: one groupBy(user) pass, one 5-double scalar agg, one
    broadcast of the 1-row params into the per-user relation, one
    groupBy(variant) — no window, no global sort; at 100 TB the
    per-user pass is the only real shuffle and it is map-side
    combinable."""
    e = load_table(spark, sf_dir, "events")
    dec = "decimal(30,10)"
    zero = F.lit(0).cast(dec)
    per_user = (e.groupBy("user_id",
                          (F.col("user_id") % 2).cast("int")
                          .alias("variant"))
                .agg(F.sum(F.when(F.dayofmonth("ts") <= 15,
                                  F.col("value").cast(dec))
                           .otherwise(zero)).cast("double").alias("x"),
                     F.sum(F.when(F.dayofmonth("ts") > 15,
                                  F.col("value").cast(dec))
                           .otherwise(zero)).cast("double").alias("y")))
    moments = per_user.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double")
        .alias("sxx"))
    params = moments.select(
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
                10).alias("theta"),
        F.round(F.col("sx") / F.col("n"), 10).alias("mx"))
    adjusted = (per_user.join(F.broadcast(params))
                .select("variant", "y",
                        F.round(F.col("y") - F.col("theta")
                                * (F.col("x") - F.col("mx")), 8)
                        .alias("y_adj")))

    def var_of(c: str, alias: str):
        s = F.sum(F.col(c).cast(dec)).cast("double")
        sq = F.sum(F.round(F.col(c) * F.col(c), 6).cast(dec)) \
            .cast("double")
        return F.round((sq - s * F.sum(F.col(c).cast(dec)) / F.count("*"))
                       / F.count("*"), 2).alias(alias)

    return (adjusted.groupBy("variant")
            .agg(F.count("*").alias("n_users"),
                 # exact integer half-away means (VERDICT r9 item 3):
                 # y sums 2dp event values (per-user DEC sums stay on
                 # the 1e-2 lattice) and y_adj is round(.,8) → 1e-8
                 # lattice; both quotients can hit 4dp half boundaries
                 davg("y", "mean_y", gdp=2),
                 davg("y_adj", "mean_y_adj", gdp=8),
                 var_of("y", "var_y"),
                 var_of("y_adj", "var_y_adj"))
            .orderBy("variant"))


# ---------------------------------------------------------------------------
# q_capture_recapture — Lincoln-Petersen population estimate
# ---------------------------------------------------------------------------

_CAPTURE_ORACLE = """
WITH presence AS (
  SELECT user_id,
         max(CASE WHEN cast(ts as date) < DATE '2024-01-15'
             THEN 1 ELSE 0 END) AS w1,
         max(CASE WHEN cast(ts as date) >= DATE '2024-01-15'
             THEN 1 ELSE 0 END) AS w2
  FROM events GROUP BY user_id
),
s AS (
  SELECT cast(sum(w1) as bigint) AS n1,
         cast(sum(w2) as bigint) AS n2,
         cast(sum(w1 * w2) as bigint) AS m,
         cast(count(*) as bigint) AS observed
  FROM presence
)
SELECT n1, n2, m, observed,
       round((cast(n1 + 1 as double) * (n2 + 1)) / (m + 1) - 1, 2)
         + 0.0 AS chapman_estimate
FROM s
"""


@query("q_capture_recapture", oracle=_CAPTURE_ORACLE)
def q_capture_recapture(spark, sf_dir):
    """Capture-recapture (Chapman's bias-corrected Lincoln-Petersen)
    estimate of the TOTAL user population from two observation
    windows (first vs second half of the month): N-hat =
    (n1+1)(n2+1)/(m+1) - 1, where m users appear in both. The
    coverage-estimation trick ecology gave analytics — how many users
    (or crawlable documents: run it on two crawl snapshots) exist that
    NEITHER window saw; q_chao1_richness answers the same question
    for vocabulary from one sample's frequency profile.

    Exactness: all four counts are exact bigints from one per-user
    collapse; Chapman is one scalar division rounded 2dp.

    Scale: one map-side-combined groupBy(user_id), one 4-sum
    reduce."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("date")
    presence = (e.groupBy("user_id")
                .agg(F.max(F.when(F.col("ts").cast("date") < cutoff, 1)
                           .otherwise(0)).alias("w1"),
                     F.max(F.when(F.col("ts").cast("date") >= cutoff, 1)
                           .otherwise(0)).alias("w2")))
    s = presence.agg(
        F.sum("w1").cast("long").alias("n1"),
        F.sum("w2").cast("long").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("observed"))
    chapman = ((F.col("n1") + 1).cast("double") * (F.col("n2") + 1)
               / (F.col("m") + 1) - 1)
    return s.select("n1", "n2", "m", "observed",
                    (F.round(chapman, 2) + 0.0)
                    .alias("chapman_estimate"))


# ---------------------------------------------------------------------------
# q_cep_pattern — MATCH_RECOGNIZE-style sequence pattern detection
# ---------------------------------------------------------------------------

@query(
    "q_cep_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s,
             count(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           cast(length(s) as bigint) AS seq_len,
           cast(len(regexp_extract_all(s, 'v[cs]*p')) as bigint)
             AS n_conversions,
           cast(len(regexp_extract_all(s, 'e+')) as bigint)
             AS n_error_bursts,
           cast(coalesce(nullif(strpos(s, 'vp'), 0), -1) as bigint)
             AS first_direct_pos
    FROM seq
    ORDER BY user_id
    """,
)
def q_cep_pattern(spark, sf_dir):
    """Complex-event-processing pattern match — the MATCH_RECOGNIZE /
    Flink-CEP capability expressed relationally: each user's event
    history (deterministically ordered by ts, event_id) collapses to
    an initials string (v=view c=click p=purchase s=signup e=error),
    and sequence patterns become regexes over it — non-overlapping
    conversion funnels 'v[cs]*p' (view, any clicks/signups, purchase),
    error bursts 'e+', and the position of the first direct
    view→purchase. The regexes stay in the Java∩RE2 subset (character
    classes and quantifiers only) so both engines count identically.

    Scale: one shuffle keyed by user_id into an ordered
    collect + linear regex scans — per-user state is the sequence
    string, the same envelope as q_sessionize/q_funnel; at 100 TB the
    ordered collapse is the standard sessionized-sequence
    materialization every CEP engine builds before pattern matching,
    and a streaming deployment holds it as keyed state."""
    e = load_table(spark, sf_dir, "events")
    seq = (e.groupBy("user_id")
           .agg(F.count("*").alias("n_events"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(
                            "ts", "event_id",
                            F.substring("event_type", 1, 1)
                            .alias("c")))),
                        lambda s: s["c"]), "").alias("s")))
    return (seq.select(
        "user_id", "n_events",
        F.length("s").cast("long").alias("seq_len"),
        F.regexp_count("s", F.lit("v[cs]*p")).cast("long")
        .alias("n_conversions"),
        F.regexp_count("s", F.lit("e+")).cast("long")
        .alias("n_error_bursts"),
        F.when(F.instr("s", "vp") > 0, F.instr("s", "vp"))
        .otherwise(-1).cast("long").alias("first_direct_pos"))
        .orderBy("user_id"))


# ---------------------------------------------------------------------------
# q_skyline_grouped — per-group 2-D Pareto frontier (grouped variant)
# ---------------------------------------------------------------------------

@query(
    "q_skyline_grouped",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS grp,
             cast(cast(l_extendedprice as decimal(14,2)) * 100
                  as bigint) AS price_c,
             cast(l_quantity as bigint) AS qty
      FROM lineitem
    ),
    marked AS (
      SELECT grp, price_c, qty,
             max(qty) OVER (PARTITION BY grp ORDER BY price_c
                            RANGE BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS m_cheaper,
             max(qty) OVER (PARTITION BY grp, price_c) AS m_same
      FROM pts
    ),
    sky AS (
      SELECT * FROM marked
      WHERE (m_cheaper IS NULL OR m_cheaper < qty) AND m_same = qty
    )
    SELECT grp,
           cast(count(*) as bigint) AS n_skyline,
           cast(min(price_c) as bigint) AS cheapest_c,
           cast(max(qty) as bigint) AS max_qty,
           cast(sum(price_c) as bigint) AS skyline_price_mass,
           cast(sum(qty) as bigint) AS skyline_qty_mass
    FROM sky GROUP BY grp ORDER BY grp
    """,
)
def q_skyline_grouped(spark, sf_dir):
    """2-D skyline (Pareto frontier) per group — the rows no other row
    dominates (cheaper AND at-least-as-big, or same price AND strictly
    bigger), the classic multi-criteria operator behind 'best
    price/quantity offers' — the per-GROUP companion of q_skyline's
    global customer frontier (same sort-filter-skyline identity,
    partitioned by return flag over lineitem points). The naive formulation is a quadratic
    NOT-EXISTS self-join; in two dimensions it collapses to ONE keyed
    sort: a point is on the frontier iff its quantity exceeds the max
    quantity over all STRICTLY cheaper points (a range frame ending at
    1 PRECEDING over integer cents — exact strictness, both engines)
    and no same-price point beats it (a per-(group, price) max).
    Duplicate frontier points both survive (dominance is strict), so
    the count is deterministic. All-integer output.

    Scale: two window passes over the same part-keyed sort — the
    standard one-exchange windowed shape; no self-join exists to go
    quadratic. The d-dimensional general case needs the
    block-nested-loop skyline (divide-and-merge); 2-D is exactly
    where the sort identity makes it free."""
    li = load_table(spark, sf_dir, "lineitem")
    # cents via round(x*100) instead of the decimal(14,2) cast chain
    # (optimization round r12, guide §1.2 per-task work): the scan is
    # 3 single-row-group tasks, and the decimal conversion was ~2/3 of
    # the scan stage (0.365 → 0.288 s noop). Value-identical on this
    # data: l_extendedprice is an exact 2-dp quantity×price product,
    # so double*100 is within 1e-9 of an integer and round() can never
    # sit on a .5 boundary — verified 0 mismatches vs the decimal cast
    # at sf0.01 AND sf0.1 (the oracle keeps the decimal form, so any
    # divergence fails the hash gate loudly).
    pts = li.selectExpr(
        "l_returnflag AS grp",
        "cast(round(l_extendedprice * 100, 0) as bigint) AS price_c",
        "cast(l_quantity as bigint) AS qty")
    # ONE Window node for both maxima (optimization round r12, guide
    # §2.4 windows sharing a partitioning): m_same = max(qty) over the
    # price PEERS — expressible as a [0, 0] RANGE frame on the SAME
    # (grp, price_c-ordered) window spec as m_cheaper, so Spark
    # evaluates both frames in one pass over one sort instead of two
    # chained Window operators. Values are identical: the range-frame
    # peer group at price p IS the (grp, price_c) partition.
    # (r12 rejected experiment: a zone-map candidate prefilter —
    # per-(grp, price-bucket) maxima + running carry-in, dropping
    # dominated rows before the exchange — is the right shape at
    # 100 TB where grp's 3-value skew serializes the sort, but at
    # sf0.1 the extra aggregate + broadcast-join stages cost ~0.3 s
    # against a ~0.15 s three-task sort: measured 0.99/1.31
    # best/median → 1.31/1.62 at matched calib. Reverted.)
    w_cheaper = (W.partitionBy("grp").orderBy("price_c")
                 .rangeBetween(W.unboundedPreceding, -1))
    w_same = (W.partitionBy("grp").orderBy("price_c")
              .rangeBetween(0, 0))
    marked = pts.select(
        "grp", "price_c", "qty",
        F.max("qty").over(w_cheaper).alias("m_cheaper"),
        F.max("qty").over(w_same).alias("m_same"))
    sky = marked.filter(
        (F.col("m_cheaper").isNull() | (F.col("m_cheaper") < F.col("qty")))
        & (F.col("m_same") == F.col("qty")))
    return (sky.groupBy("grp")
            .agg(F.count("*").cast("long").alias("n_skyline"),
                 F.min("price_c").cast("long").alias("cheapest_c"),
                 F.max("qty").cast("long").alias("max_qty"),
                 F.sum("price_c").cast("long")
                 .alias("skyline_price_mass"),
                 F.sum("qty").cast("long").alias("skyline_qty_mass"))
            .orderBy("grp"))


# ---------------------------------------------------------------------------
# q_reciprocal_best — mutual nearest-neighbor matching (RBH)
# ---------------------------------------------------------------------------

@query(
    "q_reciprocal_best",
    oracle="""
    WITH pairs AS (
      SELECT c.c_nationkey AS nat, c.c_custkey AS ck, s.s_suppkey AS sk,
             cast(abs(cast(c.c_acctbal as decimal(12,2)) * 100
                      - cast(s.s_acctbal as decimal(12,2)) * 100)
                  as bigint) AS dist_c
      FROM customer c JOIN supplier s
        ON s.s_nationkey = c.c_nationkey
    ),
    best_c AS (
      SELECT nat, ck, sk FROM (
        SELECT nat, ck, sk,
               row_number() OVER (PARTITION BY ck
                                  ORDER BY dist_c, sk) AS rn
        FROM pairs
      ) WHERE rn = 1
    ),
    best_s AS (
      SELECT nat, ck, sk FROM (
        SELECT nat, ck, sk,
               row_number() OVER (PARTITION BY sk
                                  ORDER BY dist_c, ck) AS rn
        FROM pairs
      ) WHERE rn = 1
    ),
    mutual AS (
      SELECT bc.nat, bc.ck, bc.sk
      FROM best_c bc JOIN best_s bs ON bs.ck = bc.ck AND bs.sk = bc.sk
    )
    SELECT n.nat,
           cast(coalesce(m.n_mutual, 0) as bigint) AS n_mutual,
           cast(n.n_cust as bigint) AS n_customers,
           cast(coalesce(m.ck_sum, 0) as bigint) AS matched_cust_sum,
           cast(coalesce(m.sk_sum, 0) as bigint) AS matched_supp_sum
    FROM (SELECT c_nationkey AS nat, count(*) AS n_cust
          FROM customer GROUP BY 1) n
    LEFT JOIN (SELECT nat, count(*) AS n_mutual, sum(ck) AS ck_sum,
                      sum(sk) AS sk_sum
               FROM mutual GROUP BY nat) m ON m.nat = n.nat
    ORDER BY n.nat
    """,
)
def q_reciprocal_best(spark, sf_dir):
    """Reciprocal best match — mutual nearest neighbors between two
    entity sets (the bioinformatics 'reciprocal best hit' and the
    conservative auto-link rule in record linkage: propose a match
    ONLY when each side is the other's top candidate). Customers and
    suppliers block on nation; affinity is exact integer cents
    distance between account balances; each side takes its rank-1
    partner under a deterministic (distance, key) tie-break, and the
    mutual join keeps agreeing pairs. Per nation: mutual-match count
    against customer volume, plus matched-key checksums that pin
    WHICH pairs matched. All-integer output.

    Scale: candidate volume is the per-block cross product — the
    blocking key bounds it exactly as in q_entity_resolution (here
    |customers| x |suppliers| per nation, suppliers being the small
    dimension); both rank-1 passes are keyed windows over that same
    blocked relation (one exchange each), and the mutual join is an
    equi-join on the composite pair key. Swap the block key for a
    coarse quantized-balance band to cut candidates further at 100 TB
    — the plan shape is unchanged."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    pairs = (c.join(s, c.c_nationkey == s.s_nationkey)
             .selectExpr(
                 "c_nationkey AS nat", "c_custkey AS ck",
                 "s_suppkey AS sk",
                 "cast(abs(cast(c_acctbal as decimal(12,2)) * 100"
                 " - cast(s_acctbal as decimal(12,2)) * 100) as bigint)"
                 " AS dist_c"))
    best_c = (pairs.withColumn("rn", F.row_number().over(
                  W.partitionBy("ck").orderBy("dist_c", "sk")))
              .filter("rn = 1").select("nat", "ck", "sk"))
    best_s = (pairs.withColumn("rn", F.row_number().over(
                  W.partitionBy("sk").orderBy("dist_c", "ck")))
              .filter("rn = 1").select("nat", "ck", "sk"))
    mutual = best_c.join(best_s.select("ck", "sk"), ["ck", "sk"])
    m_agg = mutual.groupBy("nat").agg(
        F.count("*").alias("n_mutual"),
        F.sum("ck").alias("ck_sum"),
        F.sum("sk").alias("sk_sum"))
    n_agg = c.groupBy(F.col("c_nationkey").alias("nat")).agg(
        F.count("*").alias("n_cust"))
    return (n_agg.join(m_agg, "nat", "left")
            .selectExpr(
                "nat",
                "cast(coalesce(n_mutual, 0) as bigint) AS n_mutual",
                "cast(n_cust as bigint) AS n_customers",
                "cast(coalesce(ck_sum, 0) as bigint)"
                " AS matched_cust_sum",
                "cast(coalesce(sk_sum, 0) as bigint)"
                " AS matched_supp_sum")
            .orderBy("nat"))
