"""Behavioral / product-analytics queries over the events stream: ordered
funnel conversion and cohort retention. These are the classic event-log
analyses every OLAP engine ships (reference scope: the north star's "query
battery over an event stream"; the reference itself only lands events into
the lake — connector.py:245 — so the analysis layer is the Spark-native
value-add).

Both queries are oracle-checked with integer-exact outputs (counts and a
single IEEE division for the conversion ratio — the repo's standard parity
discipline, functions/numeric.py).

Scale design, shared by both: ONE hash exchange on ``user_id`` feeds every
per-user window (stacked unbounded-partition windows reuse the same
Exchange — Catalyst plans a single shuffle followed by window operators on
the same distribution), then a tiny aggregate. No self-joins, no
per-stage re-scans of the fact table: at 100 TB the fact table is read
once, shuffled once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec, measure_domain, sql_measure_domain
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Ordered funnel: signup → view → click → purchase
# ---------------------------------------------------------------------------

_STAGES = ("signup", "view", "click", "purchase")


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 4-stage funnel: a user converts stage k only with
    an event of stage k's type at a time strictly after their stage-(k-1)
    conversion time (first-touch semantics: earliest qualifying event).

    Implementation: stage-k first-touch time is a per-user window min over
    ``CASE WHEN type = stage_k AND ts > stage_{k-1} THEN ts END``. The four
    windows share one partitioning (``user_id``, whole-partition frame), so
    Spark plans ONE Exchange + four Window operators — the sequential
    dependency between stages costs no extra shuffle. A per-user aggregate
    collapses to one row per user, then a global aggregate emits the
    funnel. Scale: shuffle width is (user_id, ts, event_type) — three
    narrow columns; both aggregates are partial-agg friendly.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    df = ev
    prev = None
    for i, stage in enumerate(_STAGES, start=1):
        cond = F.col("event_type") == stage
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        df = df.withColumn(f"s{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        prev = f"s{i}"
    per_user = df.groupBy("user_id").agg(
        *[F.max(f"s{i}").alias(f"s{i}") for i in range(1, 5)]
    )
    return per_user.agg(
        F.count("s1").alias("n_signup"),
        F.count("s2").alias("n_view"),
        F.count("s3").alias("n_click"),
        F.count("s4").alias("n_purchase"),
        # nullif: zero signups is a valid corpus (ANSI Spark would throw
        # on /0 where DuckDB yields the NULL conversion)
        F.round(
            F.count("s4") * F.lit(1.0) / F.nullif(F.count("s1"), F.lit(0)), 6
        ).alias("conversion"),
    )


_SQL_FUNNEL = """
WITH e AS (SELECT user_id, ts, event_type FROM events),
u1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS s1 FROM e),
u2 AS (SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > s1 THEN ts END)
               OVER (PARTITION BY user_id) AS s2 FROM u1),
u3 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > s2 THEN ts END)
               OVER (PARTITION BY user_id) AS s3 FROM u2),
u4 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > s3 THEN ts END)
               OVER (PARTITION BY user_id) AS s4 FROM u3),
per_user AS (
  SELECT user_id, MAX(s1) AS s1, MAX(s2) AS s2, MAX(s3) AS s3, MAX(s4) AS s4
  FROM u4 GROUP BY user_id
)
SELECT CAST(COUNT(s1) AS BIGINT) AS n_signup,
       CAST(COUNT(s2) AS BIGINT) AS n_view,
       CAST(COUNT(s3) AS BIGINT) AS n_click,
       CAST(COUNT(s4) AS BIGINT) AS n_purchase,
       ROUND(COUNT(s4) * 1.0 / COUNT(s1), 6) AS conversion
FROM per_user
"""

# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-cohort retention triangle: users grouped by first-active day,
    distinct-active counts at day offsets 0..7.

    One window min (same single user_id Exchange as the funnel) derives the
    cohort day; the distinct aggregate shuffles (cohort, offset, user_id) —
    three small ints — after an early projection drops everything else.
    Scale: COUNT(DISTINCT user) per cell is the one inherently two-phase
    agg here; Spark plans it as expand + two-level hash agg with partial
    de-dup before the exchange, which is the right 100 TB plan (the
    alternative, approx HLL, is ``distinct_approx``'s territory).
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.to_date("ts").alias("d"))
    f = e.withColumn("cohort_day", F.min("d").over(Window.partitionBy("user_id")))
    off = F.datediff(F.col("d"), F.col("cohort_day"))
    return (
        f.where(off <= 7)
        .groupBy("cohort_day", off.cast("long").alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


_SQL_RETENTION = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_day FROM e)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, d) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM f
WHERE date_diff('day', cohort_day, d) <= 7
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "event_funnel": event_funnel,
    "retention_cohorts": retention_cohorts,
}

ORACLE = {
    "event_funnel": _SQL_FUNNEL,
    "retention_cohorts": _SQL_RETENTION,
}


# ---------------------------------------------------------------------------
# Anomaly detection: deterministic z-score outliers per event_type
# ---------------------------------------------------------------------------


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type outlier audit: count of |z| > 3 values and the
    maximum |z|, with mean/stddev derived from EXACT decimal sums
    (sum and sum-of-squares) so the statistics — and therefore every
    z-score — are bit-identical across partitionings and engines.
    Native STDDEV would accumulate doubles in nondeterministic order;
    here variance = (s2 - s1^2/n) / (n-1) is a fixed sequence of IEEE
    ops on exact operands (functions/numeric.py discipline).

    Scale: pass 1 aggregates 5 stat rows (map-side partial, one tiny
    shuffle); the stats then BROADCAST back onto the fact scan — the
    second pass is shuffle-free, so at 100 TB the cost is two scans of
    the value column (or one with the input cached), never a wide
    exchange. The classic two-pass parallel z-score plan.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value")).cast("double").alias("s1"),
        F.sum(dec("value") * dec("value")).cast("double").alias("s2"),
    )
    # degenerate-group guards, ANSI-safe and oracle-identical: n=1 makes
    # the (n-1) divisor 0 (ANSI Spark throws, DuckDB yields NULL —
    # nullif reproduces the NULL); greatest(...,0) clamps the one-ulp
    # negative variance a constant-valued group can produce (DuckDB
    # sqrt(-eps) ERRORS while Spark gives NaN; both engines' greatest
    # ignores the NULL from n=1, so the clamp composes with nullif);
    # z over std=0 divides by NULL, not zero
    z = (F.col("value") - F.col("mean")) / F.nullif(
        F.col("std"), F.lit(0.0)
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("mean", F.col("s1") / F.col("n"))
        .withColumn(
            "std",
            F.sqrt(
                F.greatest(
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                    / F.nullif(F.col("n") - F.lit(1), F.lit(0)),
                    F.lit(0.0),
                )
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.abs(z) > 3, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.max(F.abs(z)), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


_SQL_ANOMALY = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_type,
         (e.value - s.s1 / s.n)
           / NULLIF(SQRT(GREATEST(
               (s.s2 - s.s1 * s.s1 / s.n) / NULLIF(s.n - 1, 0), 0)), 0) AS z
  FROM events e JOIN stats s ON e.event_type = s.event_type
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MAX(ABS(z)), 6) AS max_abs_z
FROM scored
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["anomaly_zscore"] = anomaly_zscore
ORACLE["anomaly_zscore"] = _SQL_ANOMALY


# ---------------------------------------------------------------------------
# Time-decayed counters (streaming-trend scoring, batch-replayable)
# ---------------------------------------------------------------------------


def decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity per event type: weight halves
    per day of age (trending-score / recency-weighted counter semantics).

    Determinism contract: the decay weight is the exact dyadic 2^-age and
    every decayed quantity is INTEGER arithmetic — count in parts-per-
    million (1e6 >> age) and value in milli-units (round(value·1000) >>
    age) — so sums are exact bigints in any partitioning and any engine:
    no float exp(), no order-dependent rounding. Ages cap at 40 doublings
    (weight underflows to 0 ppm long before).

    Scale: the reference day is a 1-row broadcast; the decayed quantities
    are a pure projection; ONE narrow groupBy(event_type) shuffle with
    map-side partials. Decayed counters also MERGE: partial sums from
    disjoint slices add, so this is lake-materializable per day and
    rolled up on read like the sketch rollups.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    ref = ev.agg(F.max(F.to_date("ts")).alias("d_ref"))
    # SQL expr: the Python shiftleft() wrapper takes only literal numBits
    div = "shiftleft(1L, cast(least(datediff(d_ref, to_date(ts)), 40) as int))"
    return (
        ev.crossJoin(F.broadcast(ref))
        .select(
            "event_type",
            F.expr(f"1000000L div {div}").alias("w_ppm"),
            F.expr(f"cast(round(value * 1000) as long) div {div}").alias("v_milli"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("w_ppm").cast("long").alias("decayed_count_ppm"),
            F.sum("v_milli").cast("long").alias("decayed_value_milli"),
        )
        .orderBy("event_type")
    )


_SQL_DECAYED = """
WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS d_ref FROM events),
w AS (
  -- CAST(1 AS BIGINT): DuckDB's bare 1 is 32-bit INTEGER and << raises
  -- "Out of Range" for shifts >= 32, so the documented 40-doubling cap
  -- would crash the oracle on any corpus spanning >= ~31 days; Spark's
  -- shiftleft(1L, ...) never had the problem
  SELECT event_type,
         1000000 // (CAST(1 AS BIGINT) << LEAST(date_diff('day', CAST(ts AS DATE), d_ref), 40)) AS w_ppm,
         CAST(ROUND(value * 1000) AS BIGINT)
           // (CAST(1 AS BIGINT) << LEAST(date_diff('day', CAST(ts AS DATE), d_ref), 40)) AS v_milli
  FROM events CROSS JOIN ref
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w_ppm) AS BIGINT) AS decayed_count_ppm,
       CAST(SUM(v_milli) AS BIGINT) AS decayed_value_milli
FROM w GROUP BY event_type ORDER BY event_type
"""

QUERIES["decayed_counts"] = decayed_counts
ORACLE["decayed_counts"] = _SQL_DECAYED


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram (distribution sketch with exact counts)
# ---------------------------------------------------------------------------

_HIST_WIDTH = 25000.0
_HIST_BINS = 20


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totalprice per orderpriority: 20
    fixed $25000 bins (last bin open-ended) with exact counts and bin
    bounds — the fixed-layout distribution sketch.

    Why fixed bins and not percentiles: fixed-bin counts MERGE (cells
    from disjoint partitions/days add up), so at 100 TB the histogram is
    computed as a map-side partial aggregate and can be materialized per
    partition then rolled up — the same property the HLL/decayed-counter
    rollups exploit. Exact quantiles don't merge; t-digest-style sketches
    trade exactness for it. Bin assignment is one floor-divide in
    codegen; the shuffle carries (priority, bin, partial count) only.
    """
    orders = load_table(spark, sf_dir, "orders")
    # measure_domain: floor(double)->bigint silently saturates on
    # NaN/Inf/1e307 (NaN lands in bucket 0!) where DuckDB's CAST aborts
    # — abort on both (r12 TPC-H measure-poisoning sweep; the r09 events
    # sweep fixed value consumers but never poisoned o_totalprice)
    bin_ = F.least(
        F.floor(measure_domain("o_totalprice") / _HIST_WIDTH).cast("long"),
        F.lit(_HIST_BINS - 1).cast("long"),
    )
    return (
        orders.select("o_orderpriority", bin_.alias("bin"))
        .groupBy("o_orderpriority", "bin")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("lo", (F.col("bin") * _HIST_WIDTH))
        .withColumn(
            "hi",
            F.when(F.col("bin") == _HIST_BINS - 1, F.lit(None).cast("double"))
            .otherwise((F.col("bin") + 1) * _HIST_WIDTH),
        )
        .orderBy("o_orderpriority", "bin")
    )


_SQL_HISTOGRAM = f"""
SELECT o_orderpriority,
       bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       bin * {_HIST_WIDTH} AS lo,
       CASE WHEN bin = {_HIST_BINS - 1} THEN NULL
            ELSE (bin + 1) * {_HIST_WIDTH} END AS hi
FROM (
  SELECT o_orderpriority,
         LEAST(CAST(FLOOR({sql_measure_domain('o_totalprice')}
                          / {_HIST_WIDTH}) AS BIGINT),
               {_HIST_BINS - 1}) AS bin
  FROM orders
) t
GROUP BY o_orderpriority, bin
ORDER BY o_orderpriority, bin
"""

QUERIES["value_histogram"] = value_histogram
ORACLE["value_histogram"] = _SQL_HISTOGRAM


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift check (binned ECDF)
# ---------------------------------------------------------------------------

_KS_A = "click"
_KS_B = "purchase"
_KS_BIN = 1  # currency units per ECDF bin


def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``value``
    distributions of two event types — the standard drift detector a
    training-data pipeline runs between a reference slice and a new batch
    before admitting it. Reported on the binned ECDF (1-unit bins): the
    histogram-KS every production drift monitor actually computes, since
    an exact-order KS needs a global sort of raw values.

    Determinism: KS is reported in ppm via pure bigint arithmetic —
    ``max |cumA·1e6 div nA − cumB·1e6 div nB|`` — so no float ever
    accumulates and both engines agree bit-for-bit. The per-side scaling
    keeps every intermediate ≤ max(cum)·1e6 < 2^63 for any count below
    ~9.2e12 events per side (the cross-multiplied form ``cumA·nB`` would
    overflow int64 already at ~3e9×3e9); per-bin truncation costs ≤ 2 ppm,
    identical on both engines.

    Scale: ONE narrow groupBy(bin) shuffle with map-side partials
    compresses the fact table to ≤ ~500 bin rows; the cumulative window
    and the max-reduce run on the bin table, not the events. The classic
    exact KS (global sort of every value) is deliberately rejected: a
    single-partition order-by over 100 TB is the anti-pattern this shape
    replaces at zero statistical cost beyond bin resolution.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    bins = (
        ev.select(
            # measure_domain: floor(double)->bigint silently saturates on
            # Spark (NaN->bin 0!) where the oracle CAST aborts — a
            # poisoned value must abort the drift check on BOTH engines,
            # never count into a real bin (r09 family #12 sweep)
            F.floor(measure_domain("value") / _KS_BIN).cast("long").alias("bin"),
            (F.col("event_type") == _KS_A).cast("long").alias("is_a"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_a").alias("a_n"),
            F.sum(1 - F.col("is_a")).alias("b_n"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the grand totals ride the SAME single-partition window stage as the
    # cumulative sums (same ordering → one Window operator, one scan) —
    # a separate totals aggregate would re-execute the whole subtree
    cum = bins.select(
        "bin",
        F.sum("a_n").over(w).alias("cum_a"),
        F.sum("b_n").over(w).alias("cum_b"),
        F.sum("a_n").over(wall).alias("n_a"),
        F.sum("b_n").over(wall).alias("n_b"),
    )
    return (
        cum.groupBy("n_a", "n_b")
        .agg(
            # nullif: an empty cohort (the drift monitor's own alarm
            # case) must yield a NULL ks_ppm like the oracle's // 0,
            # not an ANSI division crash
            F.expr(
                "cast(max(abs(cum_a * 1000000 div nullif(n_a, 0)"
                "             - cum_b * 1000000 div nullif(n_b, 0)))"
                "     as long)"
            ).alias("ks_ppm")
        )
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "ks_ppm",
        )
    )


_SQL_KS = f"""
WITH bins AS (
  SELECT CAST(FLOOR({sql_measure_domain('value')} / {_KS_BIN}) AS BIGINT) AS bin,
         SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS a_n,
         SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS b_n
  FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}')
  GROUP BY 1
), cum AS (
  SELECT bin,
         SUM(a_n) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_a,
         SUM(b_n) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_b
  FROM bins
), tot AS (
  SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(MAX(ABS(cum_a * 1000000 // n_a - cum_b * 1000000 // n_b))
            AS BIGINT) AS ks_ppm
FROM cum CROSS JOIN tot
GROUP BY n_a, n_b
"""

QUERIES["ks_drift"] = ks_drift
ORACLE["ks_drift"] = _SQL_KS


# ---------------------------------------------------------------------------
# rolling_active_users — DAU / rolling-7-day WAU / stickiness per day
# ---------------------------------------------------------------------------


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives, rolling-7-day actives, and the DAU/WAU stickiness
    ratio (exact integer ppm) per observed day — the product-analytics
    staple that a naive range window CANNOT express (COUNT DISTINCT does
    not decompose over overlapping windows).

    Exact form: the distinct (user, day) membership explodes each row
    into the 7 windows it covers (``sequence(day, day+6)``) and each
    window counts distinct users — the standard exact decomposition. The
    cover explode is ×7 of the MEMBERSHIP table (distinct user-days, far
    smaller than raw events), not of the fact stream.

    Scale: one (user, day) dedup exchange over 12-byte rows, one ×7
    fan-out, one per-day distinct-count exchange. At 100 TB you'd flip
    the window count to the mergeable HLL sketch (functions/sketches.py's
    rollup surface: union 7 daily sketches per window) and keep this
    exact form as its oracle twin — the same exact/sketch pairing as
    distinct_exact/distinct_approx.
    """
    # NULL users excluded up front: count(*) over the membership would
    # keep a NULL row in dau while countDistinct drops it from wau7 —
    # two different "active user" definitions in one report (and the
    # sibling queries' convention: attribution/asof filter NULL users)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    cover = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_day"),
        "user_id",
    )
    wau = cover.groupBy("win_day").agg(
        F.countDistinct("user_id").cast("long").alias("wau7")
    )
    return (
        dau.join(wau, dau.day == wau.win_day)
        .select(
            "day",
            "dau",
            "wau7",
            F.expr("cast(dau * 1000000 div nullif(wau7, 0) as long)").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("day")
    )


_SQL_ROLLING_ACTIVE = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
), cover AS (
  SELECT ud.day + CAST(t.x AS INTEGER) AS win_day, ud.user_id
  FROM ud CROSS JOIN UNNEST(generate_series(0, 6)) AS t(x)
), wau AS (
  SELECT win_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7
  FROM cover GROUP BY 1
)
SELECT d.day, d.dau, w.wau7,
       CAST(d.dau * 1000000 // NULLIF(w.wau7, 0) AS BIGINT)
         AS stickiness_ppm
FROM dau d JOIN wau w ON d.day = w.win_day
ORDER BY d.day
"""

QUERIES["rolling_active_users"] = rolling_active_users
ORACLE["rolling_active_users"] = _SQL_ROLLING_ACTIVE


# ---------------------------------------------------------------------------
# sessionize — batch gap-based session assignment + size/duration profile
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-min inactivity boundary


def _tag_sessions(ev: DataFrame, *extra: str) -> DataFrame:
    """Tag every non-NULL-ts event with its per-user ``sess_idx`` (>30-min
    gap boundary via lag + running sum — the textbook formulation),
    carrying ``extra`` columns through. One user_id exchange feeds both
    stacked windows; shared by ``sessionize`` and ``session_paths`` so
    boundary semantics can never diverge between consumers."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select(
            "user_id", "event_id", "ts",
            F.unix_micros("ts").alias("us"), *extra,
        )
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("gap_us").isNull()
                | (F.col("gap_us") > F.lit(_SESSION_GAP_US)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn("sess_idx", F.sum("is_new").over(run))
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the offline twin of ``streaming_session``:
    per-user event streams split at >30-min inactivity gaps (lag +
    running-sum-of-boundaries, the textbook formulation), then rolled up
    into a session-size profile: for every events-per-session value, how
    many sessions, and exact integer min/max/sum/mean session duration in
    microseconds. The report that tunes the session timeout itself and
    sizes state for the streaming job.

    Parity discipline: NULL-timestamp events are excluded on both engines
    (unknowable placement — the interarrival_stats precedent); ordering
    is ``(ts, event_id)`` with NULLS FIRST pinned in the oracle and an
    explicit ROWS frame on the running sum so tied NULL event_ids cannot
    pull RANGE-frame peers in.

    Scale: ONE hash exchange on ``user_id`` feeds both stacked windows
    (lag and the running boundary sum share the distribution); the
    per-(user, session) aggregate reuses that same partitioning (user_id
    is a subset of the grouping key — Catalyst plans no second exchange);
    only the final |distinct session sizes|-row histogram shuffles again.
    Per-row state is two 8-byte integers, payloads pruned at the scan.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    sessions = (
        _tag_sessions(ev)
        .groupBy("user_id", "sess_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("session_events"),
            (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
        )
    )
    return (
        sessions.groupBy("session_events")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.min("dur_us").cast("long").alias("min_dur_us"),
            F.max("dur_us").cast("long").alias("max_dur_us"),
            F.sum("dur_us").cast("long").alias("sum_dur_us"),
            F.expr("cast(sum(dur_us) div count(*) as long)").alias(
                "mean_dur_us"
            ),
        )
        .orderBy("session_events")
    )


#: shared session-tagging CTE chain (oracle twin of ``_tag_sessions``) —
#: tags every non-NULL-ts event with (user_id, event_id, event_type, us,
#: sess_idx); used by both sessionize and session_paths.
_SQL_SESSION_TAG = f"""e AS (
  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS us
  FROM events WHERE ts IS NOT NULL
), g AS (
  SELECT user_id, event_id, event_type, us,
         us - lag(us) OVER (
           PARTITION BY user_id
           ORDER BY us NULLS FIRST, event_id NULLS FIRST) AS gap_us
  FROM e
), b AS (
  SELECT user_id, event_id, event_type, us,
         CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM g
), s AS (
  SELECT user_id, event_id, event_type, us,
         SUM(is_new) OVER (
           PARTITION BY user_id
           ORDER BY us NULLS FIRST, event_id NULLS FIRST
           ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM b
)"""


_SQL_SESSIONIZE = f"""
WITH {_SQL_SESSION_TAG}, sess AS (
  SELECT user_id, sess_idx,
         CAST(COUNT(*) AS BIGINT) AS session_events,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
  FROM s GROUP BY 1, 2
)
SELECT session_events,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MIN(dur_us) AS BIGINT) AS min_dur_us,
       CAST(MAX(dur_us) AS BIGINT) AS max_dur_us,
       CAST(SUM(dur_us) AS BIGINT) AS sum_dur_us,
       CAST(SUM(dur_us) // COUNT(*) AS BIGINT) AS mean_dur_us
FROM sess
GROUP BY 1 ORDER BY 1
"""

QUERIES["sessionize"] = sessionize
ORACLE["sessionize"] = _SQL_SESSIONIZE


# ---------------------------------------------------------------------------
# conversion_latency — signup→purchase time-to-convert distribution
# ---------------------------------------------------------------------------


def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user whose first ``purchase`` lands at
    or after their first ``signup``, the latency between the two — count,
    conversion rate in ppm of signed-up users, and exact integer
    min/median/max/mean microseconds. The funnel's missing time axis
    (``event_funnel`` counts conversions; this measures how long they
    take — the report that sets trial lengths and nurture cadences).

    The median is discrete (percentile_disc semantics): the
    ``(n+1) div 2``-th smallest latency under the unique
    ``(latency, user_id)`` order — rank math, identical on both engines,
    no interpolation.

    Scale: ONE hash exchange on ``user_id`` feeds the first-signup
    window AND the per-user aggregate (grouping-key prefix reuse, the
    ``sessionize`` precedent); the latency table is ≤ one row per
    converted user, so the median window and the final 1-row rollup run
    on user-scale data, with the signup denominator riding a broadcast
    1-row crossJoin.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    n_signup = ev.where(F.col("event_type") == "signup").agg(
        F.countDistinct("user_id").cast("long").alias("n_signup_users")
    )
    w = Window.partitionBy("user_id")
    lat = (
        ev.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .withColumn(
            "s_us",
            F.min(
                F.when(F.col("event_type") == "signup", F.col("us"))
            ).over(w),
        )
        .where(
            (F.col("event_type") == "purchase")
            & F.col("s_us").isNotNull()
            & (F.col("us") >= F.col("s_us"))
        )
        .groupBy("user_id")
        .agg((F.min("us") - F.min("s_us")).cast("long").alias("latency_us"))
    )
    mw = Window.orderBy("latency_us", "user_id")
    return (
        lat.withColumn("rn", F.row_number().over(mw))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.min("latency_us").cast("long").alias("min_latency_us"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) div 2"),
                    F.col("latency_us"),
                )
            ).cast("long").alias("p50_latency_us"),
            F.max("latency_us").cast("long").alias("max_latency_us"),
            F.expr(
                "cast(sum(latency_us) div count(*) as long)"
            ).alias("mean_latency_us"),
        )
        .crossJoin(F.broadcast(n_signup))
        .select(
            "n_signup_users",
            "n_converted",
            F.expr(
                "cast(n_converted * 1000000 div nullif(n_signup_users, 0)"
                " as long)"
            ).alias("conversion_ppm"),
            "min_latency_us",
            "p50_latency_us",
            "max_latency_us",
            "mean_latency_us",
        )
    )


_SQL_CONVERSION_LATENCY = """
WITH e AS (
  SELECT user_id, event_type, EPOCH_US(ts) AS us
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), s AS (
  SELECT user_id, MIN(us) AS s_us FROM e
  WHERE event_type = 'signup' GROUP BY 1
), lat AS (
  SELECT e.user_id,
         CAST(MIN(e.us) - MIN(s.s_us) AS BIGINT) AS latency_us
  FROM e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.us >= s.s_us
  GROUP BY 1
), r AS (
  SELECT latency_us,
         ROW_NUMBER() OVER (ORDER BY latency_us, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lat
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup_users,
       CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(COUNT(*) * 1000000
            // NULLIF((SELECT COUNT(*) FROM s), 0) AS BIGINT)
         AS conversion_ppm,
       CAST(MIN(latency_us) AS BIGINT) AS min_latency_us,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN latency_us END) AS BIGINT)
         AS p50_latency_us,
       CAST(MAX(latency_us) AS BIGINT) AS max_latency_us,
       CAST(SUM(latency_us) // COUNT(*) AS BIGINT) AS mean_latency_us
FROM r
"""

QUERIES["conversion_latency"] = conversion_latency
ORACLE["conversion_latency"] = _SQL_CONVERSION_LATENCY


# ---------------------------------------------------------------------------
# session_paths — top session-opening event-type paths (funnel DISCOVERY)
# ---------------------------------------------------------------------------

_PATH_STEPS = 3
_PATH_TOPK = 20


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis — funnel DISCOVERY, where ``event_funnel`` is funnel
    measurement: the top-``_PATH_TOPK`` most common session-OPENING
    event-type sequences (first ``_PATH_STEPS`` events of every
    ``sessionize`` session, ``'>'``-joined), with session counts and
    share in ppm of all sessions. The report that tells you which funnel
    to define.

    Determinism: step order is ``(ts, event_id)`` with the unique
    event_id tie-break (NULLS FIRST pinned in the oracle); sessions
    shorter than ``_PATH_STEPS`` emit their whole path (both engines'
    ``concat_ws`` skips the NULL steps). Step extraction is
    ``max(CASE WHEN rn = k)`` per session — deterministic, never an
    unordered ``collect_list``.

    Scale: the shared ``_tag_sessions`` exchange on user_id feeds the
    boundary windows, the step-rank window AND the per-session pivot
    (grouping-key prefix reuse — zero extra shuffles until the
    |distinct paths|-sized count); path cardinality is bounded by
    |event_types|^steps, so the count shuffle and top-k are tiny.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    tagged = _tag_sessions(ev, "event_type")
    rw = Window.partitionBy("user_id", "sess_idx").orderBy("us", "event_id")
    steps = [
        F.max(
            F.when(F.col("rn") == k, F.col("event_type"))
        ).alias(f"s{k}")
        for k in range(1, _PATH_STEPS + 1)
    ]
    per_sess = (
        tagged.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") <= _PATH_STEPS)
        .groupBy("user_id", "sess_idx")
        .agg(*steps)
        .select(
            F.concat_ws(
                ">", *[F.col(f"s{k}") for k in range(1, _PATH_STEPS + 1)]
            ).alias("path")
        )
    )
    from ._cache import scoped

    # persist the (tiny, |event_types|^steps-bounded) path counts: both
    # the top-k branch and the grand total consume them — without the
    # persist the total branch replays the whole session pipeline
    # (second user_id exchange) just to sum the counts
    counts = per_sess.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    ).persist()
    total = counts.agg(
        F.sum("n_sessions").cast("long").alias("n_total")
    )
    wnd = Window.orderBy(F.desc("n_sessions"), "path")
    result = (
        counts.orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOPK)
        .withColumn("rnk", F.row_number().over(wnd).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "rnk",
            "path",
            "n_sessions",
            F.expr(
                "cast(n_sessions * 1000000 div nullif(n_total, 0) as long)"
            ).alias("share_ppm"),
        )
        .orderBy("rnk")
    )
    return scoped(result, counts)


_SQL_SESSION_PATHS = f"""
WITH {_SQL_SESSION_TAG}, rr AS (
  SELECT user_id, sess_idx, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, sess_idx
           ORDER BY us NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM s
), per_sess AS (
  SELECT concat_ws('>',
           MAX(CASE WHEN rn = 1 THEN event_type END),
           MAX(CASE WHEN rn = 2 THEN event_type END),
           MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM rr WHERE rn <= {_PATH_STEPS}
  GROUP BY user_id, sess_idx
), counts AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM per_sess GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_sessions) AS BIGINT) AS n_total FROM counts
), top AS (
  SELECT * FROM counts ORDER BY n_sessions DESC, path LIMIT {_PATH_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT)
         AS rnk,
       path, n_sessions,
       CAST(n_sessions * 1000000 // NULLIF(n_total, 0) AS BIGINT)
         AS share_ppm
FROM top CROSS JOIN tot
ORDER BY rnk
"""

QUERIES["session_paths"] = session_paths
ORACLE["session_paths"] = _SQL_SESSION_PATHS


# ---------------------------------------------------------------------------
# ab_test_eval — deterministic hash-bucket experiment readout
# ---------------------------------------------------------------------------


def ab_test_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis over a deterministic 50/50 user split: users
    hash into arm A/B via the last md5 hex byte of their id (portable —
    Spark ``conv(substring(md5(..)))`` and DuckDB ``'0x'||substr(..)``
    produce the identical bucket, unlike engine-specific xxhash/hash()),
    then per event type: per-arm n and mean value, the mean lift, and
    Welch's z — the readout every experimentation platform computes.

    Float discipline (the ``anomaly_zscore`` precedent): per-arm count /
    sum / sum-of-squares accumulate as EXACT decimals in ONE pass
    (CASE-split aggregates — no second scan, no join); the z statistic
    is then a fixed sequence of IEEE ops on exact operands, bit-identical
    on both engines. NULL users hash to NULL and belong to neither arm;
    NULL values are excluded symmetrically.

    Scale: one map-side-combinable aggregate to |event_types| rows —
    nothing else moves. The bucket expression composes into the scan
    projection (codegen), so assignment costs zero extra passes.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.expr(
                "pmod(conv(substring(md5(cast(user_id as string)), 31, 2),"
                " 16, 10), 2)"
            ).alias("arm"),
        )
    )
    a = F.col("arm") == 0
    b = F.col("arm") == 1
    stats = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(a, dec("value"))).cast("double").alias("s1a"),
        F.sum(F.when(b, dec("value"))).cast("double").alias("s1b"),
        F.sum(F.when(a, dec("value") * dec("value")))
        .cast("double")
        .alias("s2a"),
        F.sum(F.when(b, dec("value") * dec("value")))
        .cast("double")
        .alias("s2b"),
    )
    # degenerate-arm guards (r06 adversarial find: an empty or 1-user arm
    # crashed ANSI division; DuckDB NULLs x/0 but ERRORS on sqrt(<0)):
    # mean needs n ≥ 1, variance n ≥ 2, z a positive variance sum — all
    # spelled as explicit NULLIF/GREATEST on BOTH engines, so a
    # degenerate readout is NULL, never a crashed report
    def _nz(c):
        return F.nullif(c.cast("double"), F.lit(0.0))

    mean_a = F.col("s1a") / _nz(F.col("n_a"))
    mean_b = F.col("s1b") / _nz(F.col("n_b"))
    var_a = (F.col("s2a") - F.col("s1a") * F.col("s1a") / _nz(F.col("n_a"))) / _nz(
        F.col("n_a") - 1
    )
    var_b = (F.col("s2b") - F.col("s1b") * F.col("s1b") / _nz(F.col("n_b"))) / _nz(
        F.col("n_b") - 1
    )
    z = (mean_b - mean_a) / _nz(
        F.sqrt(
            F.greatest(
                var_a / _nz(F.col("n_a")) + var_b / _nz(F.col("n_b")),
                F.lit(0.0),
            )
        )
    )
    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_b - mean_a, 6).alias("lift"),
        F.round(z, 6).alias("z_stat"),
    ).orderBy("event_type")


_SQL_AB_TEST = """
WITH e AS (
  SELECT event_type, value,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 31, 2))::BIGINT % 2
           AS arm
  FROM events WHERE value IS NOT NULL
), s AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 0
                       THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS s1a,
         CAST(SUM(CASE WHEN arm = 1
                       THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS s1b,
         CAST(SUM(CASE WHEN arm = 0
                       THEN CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS s2a,
         CAST(SUM(CASE WHEN arm = 1
                       THEN CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS s2b
  FROM e GROUP BY 1
)
SELECT event_type, n_a, n_b,
       ROUND(s1a / NULLIF(n_a, 0), 6) AS mean_a,
       ROUND(s1b / NULLIF(n_b, 0), 6) AS mean_b,
       ROUND(s1b / NULLIF(n_b, 0) - s1a / NULLIF(n_a, 0), 6) AS lift,
       ROUND((s1b / NULLIF(n_b, 0) - s1a / NULLIF(n_a, 0))
             / NULLIF(sqrt(GREATEST(
                 (s2a - s1a * s1a / NULLIF(n_a, 0)) / NULLIF(n_a - 1, 0)
                   / NULLIF(n_a, 0)
                 + (s2b - s1b * s1b / NULLIF(n_b, 0)) / NULLIF(n_b - 1, 0)
                   / NULLIF(n_b, 0), 0.0)), 0.0), 6)
         AS z_stat
FROM s
ORDER BY event_type
"""

QUERIES["ab_test_eval"] = ab_test_eval
ORACLE["ab_test_eval"] = _SQL_AB_TEST


# ---------------------------------------------------------------------------
# followed_by_within — CEP-lite sequential pattern: view → purchase ≤ T
# ---------------------------------------------------------------------------

_FOLLOW_WINDOW_US = 60 * 60 * 1_000_000  # 1-hour deadline
_FOLLOW_A = "view"
_FOLLOW_B = "purchase"


def followed_by_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential-pattern primitive (CEP's ``A FOLLOWED BY B WITHIN
    T``, batch form): purchases preceded by the same user's view within
    one hour — per-pattern match count, share of all purchases in ppm,
    and exact integer min/mean/max view→purchase gaps. The operator
    behind "did the recommendation view convert".

    Implementation: ONE running window per user — each event carries the
    latest STRICTLY-PRECEDING view time (running max over a rows frame
    ending 1 before current, so a purchase tied to a view's timestamp
    matches only via the unique (ts, event_id) order, identically pinned
    in the oracle); a purchase matches iff that time is within the
    deadline. No event-to-event join, no candidate explosion — the
    100 TB shape is the same single user_id exchange as every window in
    this module.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .where(F.col("event_type").isin(_FOLLOW_A, _FOLLOW_B))
        .select(
            "user_id", "event_id", "event_type", "ts",
            F.unix_micros("ts").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = (
        ev.withColumn(
            "last_a_us",
            F.max(
                F.when(F.col("event_type") == _FOLLOW_A, F.col("us"))
            ).over(w),
        )
        .where(F.col("event_type") == _FOLLOW_B)
        .withColumn("gap_us", F.col("us") - F.col("last_a_us"))
        .withColumn(
            "hit",
            (
                F.col("gap_us").isNotNull()
                & (F.col("gap_us") <= F.lit(_FOLLOW_WINDOW_US))
            ).cast("long"),
        )
    )
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_b_events"),
        F.sum("hit").cast("long").alias("n_matched"),
        F.expr(
            "cast(sum(hit) * 1000000 div nullif(count(*), 0) as long)"
        ).alias("match_ppm"),
        F.min(F.when(F.col("hit") == 1, F.col("gap_us")))
        .cast("long")
        .alias("min_gap_us"),
        F.expr(
            "cast(sum(case when hit = 1 then gap_us end)"
            " div nullif(sum(hit), 0) as long)"
        ).alias("mean_gap_us"),
        F.max(F.when(F.col("hit") == 1, F.col("gap_us")))
        .cast("long")
        .alias("max_gap_us"),
    )


_SQL_FOLLOWED_BY = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS us
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('{_FOLLOW_A}', '{_FOLLOW_B}')
), m AS (
  SELECT event_type, us,
         MAX(CASE WHEN event_type = '{_FOLLOW_A}' THEN us END) OVER (
           PARTITION BY user_id
           ORDER BY us NULLS FIRST, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a_us
  FROM e
), b AS (
  SELECT us - last_a_us AS gap_us,
         CASE WHEN last_a_us IS NOT NULL
                   AND us - last_a_us <= {_FOLLOW_WINDOW_US}
              THEN 1 ELSE 0 END AS hit
  FROM m WHERE event_type = '{_FOLLOW_B}'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_b_events,
       CAST(SUM(hit) AS BIGINT) AS n_matched,
       CAST(SUM(hit) * 1000000 // NULLIF(COUNT(*), 0) AS BIGINT)
         AS match_ppm,
       CAST(MIN(CASE WHEN hit = 1 THEN gap_us END) AS BIGINT) AS min_gap_us,
       CAST(SUM(CASE WHEN hit = 1 THEN gap_us END)
            // NULLIF(SUM(hit), 0) AS BIGINT) AS mean_gap_us,
       CAST(MAX(CASE WHEN hit = 1 THEN gap_us END) AS BIGINT) AS max_gap_us
FROM b
"""

QUERIES["followed_by_within"] = followed_by_within
ORACLE["followed_by_within"] = _SQL_FOLLOWED_BY


# ---------------------------------------------------------------------------
# rfm_segmentation — segment-relative RFM customer scoring
# ---------------------------------------------------------------------------


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation, the
    standard CRM scoring matrix: per customer, days since last order
    (vs the corpus max order date), order count, and lifetime cents;
    each dimension quartiled with NTILE(4) *within the customer's market
    segment* (segment-relative scoring — a whale in MACHINERY is scored
    against MACHINERY whales), then rolled up to segment x (r,f,m) cells
    with exact customer counts and monetary mass.

    Determinism: NTILE follows the SQL-standard fill (first ``n mod k``
    tiles one larger) identically on both engines; every quartile window
    orders by (metric, c_custkey) so ties are uniquely broken; NULL
    recency (customer with all-NULL order dates) is pinned NULLS FIRST
    on the oracle side to match Spark's ASC default. Monetary cents are
    exact FLOOR(decimal x 100) bigints.

    Scale: one custkey aggregate over orders (map-side combined), one
    broadcast of the customer dim, then all three NTILE windows partition
    by c_mktsegment and SHARE that one exchange (same partition key) —
    the sort is per-segment, never global. The rollup emits <= |segments|
    x 64 rows. At 100 TB the per-segment sort is the honest cost of exact
    quantile scoring; a coarser hash-sharded approximate scorer would
    trade that for cut-value lookups.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    maxd = orders.agg(F.max("o_orderdate").alias("corpus_max"))
    per_cust = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents"),
        )
        .join(F.broadcast(cust), "o_custkey")
        .crossJoin(F.broadcast(maxd))
        .withColumn(
            "recency_days",
            F.datediff(F.col("corpus_max"), F.col("last_order")).cast("long"),
        )
    )
    seg = Window.partitionBy("c_mktsegment")
    scored = (
        per_cust.withColumn(
            "r_q", F.ntile(4).over(seg.orderBy("recency_days", "o_custkey"))
        )
        .withColumn("f_q", F.ntile(4).over(seg.orderBy("n_orders", "o_custkey")))
        .withColumn("m_q", F.ntile(4).over(seg.orderBy("cents", "o_custkey")))
    )
    return (
        scored.groupBy("c_mktsegment", "r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.expr("sum(cents) div count(1)").cast("long").alias(
                "avg_cents"
            ),
        )
        .orderBy("c_mktsegment", "r_q", "f_q", "m_q")
    )


_SQL_RFM = """
WITH maxd AS (
  SELECT MAX(o_orderdate) AS corpus_max FROM orders
), pc AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY 1
), j AS (
  SELECT c_mktsegment, pc.o_custkey, pc.n_orders, pc.cents,
         CAST(DATE_DIFF('day', CAST(last_order AS DATE),
                        CAST(corpus_max AS DATE)) AS BIGINT) AS recency_days
  FROM pc
  JOIN customer ON c_custkey = pc.o_custkey
  CROSS JOIN maxd
), s AS (
  SELECT c_mktsegment,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY recency_days NULLS FIRST, o_custkey) AS r_q,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY n_orders, o_custkey) AS f_q,
         NTILE(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY cents, o_custkey) AS m_q,
         cents
  FROM j
)
SELECT c_mktsegment, r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(cents) // COUNT(*) AS BIGINT) AS avg_cents
FROM s
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2, 3, 4
"""

QUERIES["rfm_segmentation"] = rfm_segmentation
ORACLE["rfm_segmentation"] = _SQL_RFM


# ---------------------------------------------------------------------------
# quantile_bins — exact equi-depth deciles of order value per year
# ---------------------------------------------------------------------------


def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (equal-count) decile binning of order value
    within each order year: NTILE(10) over exact cents, then per-bin
    count / min / max / sum — the equi-DEPTH complement to
    ``value_histogram``'s equi-WIDTH bins, and the exact version of what
    approx_percentile-based binning estimates. Bin edges (min/max per
    bin) double as an exact decile table.

    Determinism: NTILE ordering pinned by (cents, o_orderkey) — unique;
    both engines fill tiles with the SQL-standard first-(n mod k)-larger
    rule. NULL order dates form their own partition on both engines
    (PARTITION BY groups NULLs together in Spark and DuckDB alike).

    Scale: the NTILE window partitions by year, so the sort is per-year
    and parallel; at 100 TB the partition key would tighten to
    (year, month) — same plan shape, more parallelism — the choice is a
    bucketing knob, not a structural change. One shuffle on the year
    key, one rollup on (year, decile).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_year").orderBy("cents", "o_orderkey")
    binned = (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr(
                f"cast(floor({dec.sql('o_totalprice')} * 100)"
                " as bigint)"
            ).alias("cents"),
        )
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
    )
    return (
        binned.groupBy("o_year", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("cents").cast("long").alias("lo_cents"),
            F.max("cents").cast("long").alias("hi_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("o_year", "decile")
    )


_SQL_QUANTILE_BINS = """
WITH b AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), t AS (
  SELECT o_year, cents,
         CAST(NTILE(10) OVER (PARTITION BY o_year
                              ORDER BY cents NULLS FIRST, o_orderkey)
              AS BIGINT) AS decile
  FROM b
)
SELECT o_year, decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM t
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["quantile_bins"] = quantile_bins
ORACLE["quantile_bins"] = _SQL_QUANTILE_BINS


# ---------------------------------------------------------------------------
# mad_outliers — robust (median/MAD) outlier audit per event type
# ---------------------------------------------------------------------------


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event type: median absolute deviation
    instead of ``anomaly_zscore``'s mean/stddev — the estimator that
    does NOT break down when the outliers it hunts contaminate the
    statistic (one flash value can drag a z-score's own mean; the median
    shrugs). Flags values with |x − median| > 3·MAD.

    Exactness (double twice-median): values quantize to floored micros
    once; the median rides as ``med2`` = sum of the two middle micros;
    deviations ride PRE-DOUBLED (``dev = |2x − med2|`` = 2|x−med|, an
    integer); the MAD rides as ``mad4`` = twice-median of dev = 4·MAD.
    The flag |x−med| > 3·MAD is then the pure-integer comparison
    ``2·dev > 3·mad4`` — no halving, no floats anywhere past the initial
    quantization. Both positional sorts pin (value, event_id) with NULLS
    FIRST parity on the oracle. NULL values drop symmetrically.

    Scale: both median windows and the final rollup partition by
    event_type and share ONE exchange (same key; two in-partition sorts
    are the honest cost of two exact medians). One events scan, two
    columns.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.where(F.col("value").isNotNull()).select(
        "event_type", "event_id",
        F.expr("cast(floor(value * 1000000) as bigint)").alias("micro"),
    )
    wt = Window.partitionBy("event_type")
    w1 = wt.orderBy("micro", "event_id")
    r1 = (
        vals.withColumn("i", F.row_number().over(w1).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wt).cast("long"))
        .withColumn(
            "med_part",
            F.expr(
                "case when i = (n + 1) div 2 or i = (n + 2) div 2 then"
                " case when n % 2 = 0 then micro else micro * 2 end"
                " else 0 end"
            ),
        )
        .withColumn("med2", F.sum("med_part").over(wt).cast("long"))
        .withColumn("dev", F.expr("abs(2 * micro - med2)"))
    )
    w2 = wt.orderBy("dev", "event_id")
    r2 = (
        r1.withColumn("j", F.row_number().over(w2).cast("long"))
        .withColumn(
            "mad_part",
            F.expr(
                "case when j = (n + 1) div 2 or j = (n + 2) div 2 then"
                " case when n % 2 = 0 then dev else dev * 2 end"
                " else 0 end"
            ),
        )
        .withColumn("mad4", F.sum("mad_part").over(wt).cast("long"))
    )
    return (
        r2.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_values"),
            F.max("med2").cast("long").alias("med2_micro"),
            F.max("mad4").cast("long").alias("mad4_micro"),
            F.sum(
                F.expr("case when 2 * dev > 3 * mad4 then 1 else 0 end")
            ).cast("long").alias("n_outliers"),
            F.expr(
                "cast(max(dev) * 2 * 1000 div nullif(3 * max(mad4), 0)"
                " as long)"
            ).alias("max_dev_ratio_milli"),
        )
        .orderBy("event_type")
    )


_SQL_MAD = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS micro
  FROM events WHERE value IS NOT NULL
), r1 AS (
  SELECT event_type, event_id, micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY micro, event_id NULLS FIRST) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM v
), m1 AS (
  SELECT event_type, event_id, micro, i, n,
         CAST(SUM(CASE WHEN i = (n + 1) // 2 OR i = (n + 2) // 2 THEN
                    CASE WHEN n % 2 = 0 THEN micro ELSE micro * 2 END
                  ELSE 0 END) OVER (PARTITION BY event_type) AS BIGINT)
           AS med2
  FROM r1
), d AS (
  SELECT event_type, event_id, n, med2,
         ABS(2 * micro - med2) AS dev
  FROM m1
), r2 AS (
  SELECT event_type, n, med2, dev,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY dev, event_id NULLS FIRST) AS BIGINT) AS j
  FROM d
), m2 AS (
  SELECT event_type, n, med2, dev,
         CAST(SUM(CASE WHEN j = (n + 1) // 2 OR j = (n + 2) // 2 THEN
                    CASE WHEN n % 2 = 0 THEN dev ELSE dev * 2 END
                  ELSE 0 END) OVER (PARTITION BY event_type) AS BIGINT)
           AS mad4
  FROM r2
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(MAX(med2) AS BIGINT) AS med2_micro,
       CAST(MAX(mad4) AS BIGINT) AS mad4_micro,
       CAST(SUM(CASE WHEN 2 * dev > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(MAX(dev) * 2 * 1000 // NULLIF(3 * MAX(mad4), 0) AS BIGINT)
         AS max_dev_ratio_milli
FROM m2
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["mad_outliers"] = mad_outliers
ORACLE["mad_outliers"] = _SQL_MAD


# ---------------------------------------------------------------------------
# psi_drift — population stability index between time halves
# ---------------------------------------------------------------------------


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    first calendar half vs second half — THE production ML-monitoring
    drift score (PSI < 0.1 stable, > 0.25 shifted), over the same fixed
    bins as ``value_histogram``. The parametric complement to
    ``ks_drift``'s sup-gap statistic.

    Determinism: the halves split on the exact integer twice-midpoint of
    the day span (``2·day ≤ min+max``); each bin's PSI term
    (p−q)·ln(p/q) is computed once per BIN from integer counts in one
    fixed double expression and quantized to micro before the sum (the
    LM-surprise recipe). Bins empty on either side can't take a log —
    they are counted out separately (``n_degenerate_bins``), the
    standard epsilon-free treatment.

    Scale: one orders scan -> one (half, bin) aggregate (map-side
    combined, ≤ 2x``_HIST_BINS`` cells), a 1-row total broadcast, and a
    bounded final fold. Constant-size state at any fact size.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderdate").isNotNull()).select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
        F.least(
            F.floor(measure_domain("o_totalprice") / _HIST_WIDTH)
            .cast("long"),
            F.lit(_HIST_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    span = base.agg(
        (F.min("dn") + F.max("dn")).alias("mid2")
    )
    cells = (
        base.crossJoin(F.broadcast(span))
        .groupBy("bin")
        .agg(
            F.sum(F.expr("case when 2 * dn <= mid2 then 1 else 0 end"))
            .cast("long")
            .alias("c"),
            F.sum(F.expr("case when 2 * dn > mid2 then 1 else 0 end"))
            .cast("long")
            .alias("d"),
        )
        .persist()
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("tc"), F.sum("d").cast("long").alias("td")
    )
    from pyspark.sql import functions as _F  # noqa: F401
    from bytewax_iceberg_connector_spark.plans._cache import scoped

    result = (
        cells.crossJoin(F.broadcast(tot))
        .withColumn(
            "term_micro",
            F.expr(
                "case when c > 0 and d > 0 then"
                " cast(round((c / tc - d / td)"
                "   * ln((c * td) / (d * tc)) * 1000000) as long)"
                " else null end"
            ),
        )
        .agg(
            F.sum(F.expr("case when term_micro is not null then 1 else 0 end"))
            .cast("long")
            .alias("n_bins_used"),
            F.sum(F.expr("case when term_micro is null then 1 else 0 end"))
            .cast("long")
            .alias("n_degenerate_bins"),
            F.max("tc").alias("n_first_half"),
            F.max("td").alias("n_second_half"),
            F.sum("term_micro").cast("long").alias("psi_micro"),
        )
    )
    return scoped(result, cells)


_SQL_PSI = f"""
WITH base AS (
  SELECT CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS dn,
         LEAST(CAST(FLOOR({sql_measure_domain('o_totalprice')}
                          / {_HIST_WIDTH}) AS BIGINT),
               {_HIST_BINS - 1}) AS bin
  FROM orders WHERE o_orderdate IS NOT NULL
), span AS (
  SELECT MIN(dn) + MAX(dn) AS mid2 FROM base
), cells AS (
  SELECT bin,
         CAST(SUM(CASE WHEN 2 * dn <= mid2 THEN 1 ELSE 0 END) AS BIGINT)
           AS c,
         CAST(SUM(CASE WHEN 2 * dn > mid2 THEN 1 ELSE 0 END) AS BIGINT)
           AS d
  FROM base CROSS JOIN span
  GROUP BY 1
), tot AS (
  SELECT SUM(c) AS tc, SUM(d) AS td FROM cells
), terms AS (
  SELECT CASE WHEN c > 0 AND d > 0 THEN
           CAST(ROUND((c / tc - d / td)
                * ln((c * td) / (d * tc)) * 1000000) AS BIGINT)
         ELSE NULL END AS term_micro
  FROM cells CROSS JOIN tot
)
SELECT CAST(SUM(CASE WHEN term_micro IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bins_used,
       CAST(SUM(CASE WHEN term_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_degenerate_bins,
       CAST((SELECT tc FROM tot) AS BIGINT) AS n_first_half,
       CAST((SELECT td FROM tot) AS BIGINT) AS n_second_half,
       CAST(SUM(term_micro) AS BIGINT) AS psi_micro
FROM terms
"""

QUERIES["psi_drift"] = psi_drift
ORACLE["psi_drift"] = _SQL_PSI


# ---------------------------------------------------------------------------
# cohort_revenue_ltv — cumulative revenue by signup cohort x age
# ---------------------------------------------------------------------------


def cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: customers grouped by FIRST-order month, revenue
    accumulated by month offset since that cohort month — the revenue
    sibling of ``retention_cohorts``' activity curve, and the table
    every "payback period" chart is drawn from.

    Exactness: months ride as the integer ``year*12 + month − 1`` so
    offsets are pure subtraction (no calendar arithmetic divergence);
    revenue is exact floored cents; the cumulative sum is an integer
    running window ordered by the offset (unique per cohort, no
    tie-break needed).

    Scale: ONE custkey exchange carries the first-order window; the
    (cohort, offset) rollup and its cumulative window operate on a
    BOUNDED frame (months² / 2 cells at any fact size). The cohort
    label decodes from the month number JVM-side.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        "o_custkey",
        F.expr(
            "year(o_orderdate) * 12 + month(o_orderdate) - 1"
        ).cast("long").alias("m"),
        F.expr(
            f"cast(floor({dec.sql('o_totalprice')} * 100) as bigint)"
        ).alias("cents"),
    )
    wc = Window.partitionBy("o_custkey")
    offs = base.withColumn("cohort", F.min("m").over(wc)).withColumn(
        "offset", (F.col("m") - F.col("cohort")).cast("long")
    )
    cells = offs.groupBy("cohort", "offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn("cum_cents", F.sum("cents").over(wcum).cast("long"))
        .select(
            F.expr(
                "concat(cast(cohort div 12 as string), '-',"
                " lpad(cast(cohort % 12 + 1 as string), 2, '0'))"
            ).alias("cohort_month"),
            "offset", "n_orders", "cents", "cum_cents",
        )
        .orderBy("cohort_month", "offset")
    )


_SQL_COHORT_LTV = """
WITH base AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), offs AS (
  SELECT m - MIN(m) OVER (PARTITION BY o_custkey) AS "offset",
         MIN(m) OVER (PARTITION BY o_custkey) AS cohort,
         cents
  FROM base
), cells AS (
  SELECT cohort, "offset",
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM offs GROUP BY 1, 2
)
SELECT CAST(cohort // 12 AS VARCHAR) || '-'
         || lpad(CAST(cohort % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
       "offset", n_orders, cents,
       CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY "offset"
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
FROM cells
ORDER BY cohort_month, "offset"
"""

QUERIES["cohort_revenue_ltv"] = cohort_revenue_ltv
ORACLE["cohort_revenue_ltv"] = _SQL_COHORT_LTV


# ---------------------------------------------------------------------------
# r11-staged: gaps-and-islands run-length profile (register after r11 gate)
# ---------------------------------------------------------------------------


def run_length_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal runs of consecutive same-type events per user — the
    gaps-and-islands capability (rn − rn_by_type grouping): a user firing
    ``click,click,click`` forms ONE 3-long run. Per event type: run
    count, longest run, runs ≥ 3 (the burst signal), and exact mean run
    length ×100 (integer division — the engine's integer-exact
    discipline).

    Parity discipline: NULL user/type/ts rows are excluded on both
    engines (a run is undefined without an owner, a type, or a place in
    time — the sessionize precedent); ordering is ``(ts, event_id NULLS
    FIRST, event_type)`` so exact ts+id ties cannot flip island
    boundaries between engines.

    Scale: ONE hash exchange on ``user_id`` feeds both stacked
    ROW_NUMBERs (the per-(user,type) window partitions by a superset of
    the per-user one — same distribution, no second exchange); the
    per-run aggregate groups by (user, type, island) on that same
    partitioning, and only the |event types|-row profile shuffles again.
    """
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    order = [
        F.col("ts").asc(),
        F.col("event_id").asc_nulls_first(),
        F.col("event_type").asc(),
    ]
    w_user = Window.partitionBy("user_id").orderBy(*order)
    w_type = Window.partitionBy("user_id", "event_type").orderBy(*order)
    runs = (
        ev.withColumn(
            "island",
            F.row_number().over(w_user) - F.row_number().over(w_type),
        )
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
            F.sum((F.col("run_len") >= 3).cast("long"))
            .cast("long")
            .alias("runs_ge3"),
            F.expr("cast(sum(run_len) * 100 div count(*) as long)").alias(
                "mean_len_x100"
            ),
        )
        .orderBy("event_type")
    )


_SQL_RUN_LENGTH = """
WITH ev AS (
  SELECT user_id, event_type, ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), isl AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY ts, event_id NULLS FIRST, event_type)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
           ORDER BY ts, event_id NULLS FIRST, event_type) AS island
  FROM ev
), runs AS (
  SELECT user_id, event_type, island,
         CAST(COUNT(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS runs_ge3,
       CAST(SUM(run_len) * 100 // COUNT(*) AS BIGINT) AS mean_len_x100
FROM runs
GROUP BY event_type
ORDER BY event_type
"""

# registered r12 (staged r11 per the stage-then-register cadence)
QUERIES["run_length_segments"] = run_length_segments
ORACLE["run_length_segments"] = _SQL_RUN_LENGTH


# ---------------------------------------------------------------------------
# r12-staged: per-user behavioral entropy (register after the r12 gate)
# ---------------------------------------------------------------------------

_ENTROPY_LOW_MICRO = 300_000  # < 0.3 nats with >= _ENTROPY_MIN_EVENTS
_ENTROPY_MIN_EVENTS = 10      # ... events = bot-like repetition flag


def session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution, rolled up
    by behavioral breadth (``n_types`` = distinct event types the user
    touched): the classic bot / scripted-traffic detector — a user with
    hundreds of events but near-zero entropy is a loop, not a person.
    Flags users with >= 10 events and entropy < 0.3 nats.

    Determinism: the ``char_entropy`` integer discipline — each
    (user, type) term quantizes ``ln(n) - ln(c)`` to micro-nats ONCE
    (both engines round the same double), totals are bigint sums,
    per-user entropy is one integer division. No float re-accumulates.

    NULL user_id / event_type rows drop out (entropy needs a keyed
    distribution; SQL GROUP BY would invent a NULL cohort).

    Scale: ONE hash exchange on (user_id, event_type) builds the count
    table with map-side partials; ``n`` comes from a user-keyed window
    over that already-partitioned frame (same exchange — subset key), and
    the final rollup groups |users| narrow rows by n_types (tiny). No
    join, no second corpus pass, no UDF — the whole score is codegen'd
    scalar math riding the aggregate.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id")
    per_u = (
        per_ut.select(
            "user_id",
            "c",
            F.sum("c").over(w).alias("n"),
            F.count(F.lit(1)).over(w).alias("n_types"),
        )
        .groupBy("user_id", "n", "n_types")
        .agg(
            F.expr(
                "sum(c * cast(round((ln(cast(n as double)) "
                "- ln(cast(c as double))) * 1000000) as bigint)) div n"
            ).alias("entropy_micro")
        )
    )
    return (
        per_u.groupBy(F.col("n_types").cast("long").alias("n_types"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("sum(entropy_micro) div count(*)")
            .alias("avg_entropy_micro"),
            F.min("entropy_micro").cast("long").alias("min_entropy_micro"),
            F.max("entropy_micro").cast("long").alias("max_entropy_micro"),
            F.sum(
                (
                    (F.col("entropy_micro") < _ENTROPY_LOW_MICRO)
                    & (F.col("n") >= _ENTROPY_MIN_EVENTS)
                ).cast("long")
            )
            .cast("long")
            .alias("n_bot_like"),
        )
        .orderBy("n_types")
    )


_SQL_SESSION_ENTROPY = f"""
WITH per_ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), windowed AS (
  SELECT user_id, c,
         SUM(c) OVER (PARTITION BY user_id) AS n,
         COUNT(*) OVER (PARTITION BY user_id) AS n_types
  FROM per_ut
), per_u AS (
  SELECT user_id, n, n_types,
         SUM(c * CAST(ROUND((ln(CAST(n AS DOUBLE))
                             - ln(CAST(c AS DOUBLE))) * 1000000)
                      AS BIGINT)) // n AS entropy_micro
  FROM windowed
  GROUP BY 1, 2, 3
)
SELECT CAST(n_types AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(entropy_micro) // COUNT(*) AS BIGINT) AS avg_entropy_micro,
       CAST(MIN(entropy_micro) AS BIGINT) AS min_entropy_micro,
       CAST(MAX(entropy_micro) AS BIGINT) AS max_entropy_micro,
       CAST(SUM(CASE WHEN entropy_micro < {_ENTROPY_LOW_MICRO}
                      AND n >= {_ENTROPY_MIN_EVENTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bot_like
FROM per_u
GROUP BY 1
ORDER BY 1
"""

R12_QUERIES = {"session_entropy": session_entropy}
R12_ORACLE = {"session_entropy": _SQL_SESSION_ENTROPY}
