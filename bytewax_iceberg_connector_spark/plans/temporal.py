"""Temporal & range-join queries (custom-operator showcase, north star:
"as-of join, range join" as compositions of built-in DataFrame ops).

Both queries are DuckDB-oracle-checked: ASOF JOIN is native DuckDB syntax;
the range join replays as an inequality join on a VALUES list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec, dsum, sql_dsum
from ..operators.asof import asof_join
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# as-of join: each purchase ↦ the user's most recent prior click
# ---------------------------------------------------------------------------

def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of self-join on events: for every purchase,
    the same user's latest click at-or-before the purchase time, plus the
    gap in seconds (null-safe long).

    Plan shape: single hash shuffle on user_id + one running-last window —
    no range-candidate blow-up (see operators/asof.py).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=("value",),
        suffix="_click",
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_click").alias("last_click_ts"),
        F.col("value_click").alias("last_click_value"),
        # integer micros → floor-divide: exact, engine-neutral (timestamp→
        # long casts truncate in Spark but EPOCH()::BIGINT rounds in DuckDB)
        F.expr("(unix_micros(ts) - unix_micros(ts_click)) div 1000000")
        .alias("gap_seconds"),
    )


_SQL_ASOF = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC NULLS LAST) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
-- NULL-ts contract (r09 family #13): a row without a timestamp has no
-- position in time and can never MATCH — DuckDB's ASOF binary-search
-- sorts a NULL probe HIGH (matching the last right row) and never
-- rejects NULL build rows, so both sides are made explicit here, same
-- as the engine operator (operators/asof.py).
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.ts END AS last_click_ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.value END
         AS last_click_value,
       (EPOCH_US(p.ts) - EPOCH_US(c.ts)) // 1000000 AS gap_seconds
FROM p ASOF LEFT JOIN (SELECT * FROM c WHERE ts IS NOT NULL) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every purchase, the same user's NEXT click at or
    after the purchase (conversion-lag analysis) — same one-shuffle window
    plan as the backward form, ordered descending."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=("value",),
        suffix="_click",
        tiebreak="event_id",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_click").alias("next_click_ts"),
        F.col("value_click").alias("next_click_value"),
        F.expr("(unix_micros(ts_click) - unix_micros(ts)) div 1000000")
        .alias("wait_seconds"),
    )


_SQL_ASOF_FWD = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC NULLS LAST) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
-- NULL-ts contract (r09 family #13): a row without a timestamp has no
-- position in time and can never MATCH — DuckDB's ASOF binary-search
-- sorts a NULL probe HIGH (matching the last right row) and never
-- rejects NULL build rows, so both sides are made explicit here, same
-- as the engine operator (operators/asof.py).
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.ts END AS next_click_ts,
       CASE WHEN p.ts IS NULL THEN NULL ELSE c.value END
         AS next_click_value,
       (EPOCH_US(c.ts) - EPOCH_US(p.ts)) // 1000000 AS wait_seconds
FROM p ASOF LEFT JOIN (SELECT * FROM c WHERE ts IS NOT NULL) c
  ON p.user_id = c.user_id AND p.ts <= c.ts
"""

# ---------------------------------------------------------------------------
# range join: lineitem quantities vs a banded dimension
# ---------------------------------------------------------------------------

_BANDS = (
    ("tiny", 0, 10),
    ("small", 10, 20),
    ("medium", 20, 35),
    ("large", 35, 51),
)


def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality (range) join: every lineitem lands in its quantity band
    [lo, hi); revenue and counts per band.

    The band table is tiny and explicitly broadcast, so the range predicate
    evaluates as a broadcast nested-loop join — each task streams its
    lineitem partition against 4 in-memory rows; no shuffle, no cartesian
    materialization. This is the only plan shape where a nested-loop join
    is the RIGHT answer at 100 TB (|bands| is O(1)); a big-big range join
    would instead bucketize both sides to equi-join on overlapping buckets.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice", "l_discount")
    bands = spark.createDataFrame(list(_BANDS), "band STRING, lo INT, hi INT")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            # exact-decimal product & sum (functions/numeric.py): double
            # products round half-differently across engines
            dsum(
                f"{dec.sql('l_extendedprice')}"
                f" * (1 - {dec.sql('l_discount')})", 4
            ).alias("revenue"),
        )
        .orderBy("band")
    )


_SQL_RANGE = f"""
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0, 10), ('small', 10, 20), ('medium', 20, 35), ('large', 35, 51)
)
SELECT band,
       COUNT(*) AS n_items,
       {sql_dsum('(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))', 4)} AS revenue
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
ORDER BY band
"""

# ---------------------------------------------------------------------------
# Gap-filled hourly series with last-observation-carried-forward
# ---------------------------------------------------------------------------



#: maximum per-user gapfill span, in grid hours (~30 years). The dense
#: grid is span×users rows by DESIGN — bounded because real dashboards
#: chart bounded ranges. ONE corrupt timestamp (year 0001 / 9999 — the
#: r09 family #13 sweep's find) silently turned the grid into ~87.6M
#: rows PER USER on BOTH engines: agreement without an answer, the
#: runaway-materialization twin of the non-finite measure class. The
#: guard ABORTS (both engines, same message) instead of materializing —
#: filter the time range or raise the bound deliberately.
_GAPFILL_MAX_HOURS = 8_766 * 30


def _bounded_span(span):
    """Abort-guarded hi bound for the gapfill grid (see
    _GAPFILL_MAX_HOURS). A NULL span (a user whose every event has NULL
    ts — lo/hi both NULL) passes through: sequence(NULL, NULL) explodes
    to zero grid rows on both engines, which is the correct answer for
    an unknown span, not a runaway one (review find: the first guard
    form aborted on it)."""
    hours = (F.unix_seconds("hi") - F.unix_seconds("lo")) / 3600
    return span.withColumn(
        "hi",
        F.when(
            hours.isNull() | (hours <= _GAPFILL_MAX_HOURS), F.col("hi")
        ).otherwise(
            F.raise_error(F.lit(
                "gapfill span exceeds the declared grid domain"
            ))
        ),
    )


_SQL_BOUNDED_HI = (
    "CASE WHEN DATEDIFF('hour', MIN(h), MAX(h)) IS NULL "
    f"OR DATEDIFF('hour', MIN(h), MAX(h)) <= {_GAPFILL_MAX_HOURS} "
    "THEN MAX(h) "
    "ELSE error('gapfill span exceeds the declared grid domain') END"
)


def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style ``time_bucket_gapfill`` + ``locf``: a dense hourly
    grid per user over that user's observed span, empty hours filled with
    zero counts and the last seen hourly value carried forward.

    Per-user spans come from the hourly aggregate (tiny), the dense grid
    is ``sequence(lo, hi, 1 hour)`` exploded — generated, never stored —
    and LOCF is one running ``last(ignorenulls)`` window. Scale: the
    aggregate is word-count-shaped; the grid join and the LOCF window both
    hash on user_id, so AQE coalesces them onto one exchange lineage; grid
    size is bounded by span x users, not by raw event volume — at 100 TB
    of events the dense grid is still only users x hours rows.

    Restricted to user_id < 10 to keep the driver-side correctness
    comparison bounded; the plan shape is user-count-invariant.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("hour_value"))
    )
    span = _bounded_span(hourly.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    ))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("hour_value", ignorenulls=True).over(w).alias("value_locf"),
    ).orderBy("user_id", "h")


_SQL_GAPFILL = f"""
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 10),
hourly AS (
  SELECT user_id, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_dsum('value')} AS hour_value
  FROM ev GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(h) AS lo, {_SQL_BOUNDED_HI} AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span
)
SELECT g.user_id, g.h,
       COALESCE(n_events, 0) AS n_events,
       LAST_VALUE(hour_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM grid g LEFT JOIN hourly USING (user_id, h)
ORDER BY user_id, h
"""

# ---------------------------------------------------------------------------
# gapfill_linear — dense grid with exact-integer linear interpolation
# ---------------------------------------------------------------------------


def gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``time_bucket_gapfill`` + ``interpolate``: the same dense hourly
    grid as ``gapfill_locf``, but missing hours take the LINEAR
    interpolation between the surrounding observed hourly values — the
    other TimescaleDB gapfill mode, the one dashboards chart.

    Exact integer end-to-end: observed values in cents (the decimal sum
    ×100), hour distances as integers, and
    ``v = vp + (vn−vp)·Δ div span`` with both engines' integral division
    truncating toward zero (verified: −7 div 2 = −3 on Spark AND DuckDB),
    so negative slopes interpolate identically. The grid spans each
    user's observed range, so a bracket always exists — observed rows
    carry their own value (Δ = 0).

    Scale: identical plan to gapfill_locf plus one mirrored window pair
    (running last + running first) on the same (user_id) partitioning —
    AQE runs all three on one exchange lineage; grid size is users ×
    span-hours, never raw event volume.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        # dec(): the raw cast silently NULLed NaN/Inf value mass on
        # Spark where the oracle's CAST aborts (r09 family #12 sweep) —
        # route through the non-finite abort guard like every other
        # decimal-exact measure
        (F.sum(dec("value")) * 100).cast("long").alias("cents"),
    )
    span = _bounded_span(hourly.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    ))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "hh", F.expr("unix_seconds(h) div 3600")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("cents").isNotNull(), F.col("hh"))
    withp = (
        j.withColumn("vp", F.last("cents", ignorenulls=True).over(wb))
        .withColumn("hp", F.last(obs_h, ignorenulls=True).over(wb))
        .withColumn("vn", F.first("cents", ignorenulls=True).over(wf))
        .withColumn("hn", F.first(obs_h, ignorenulls=True).over(wf))
    )
    return withp.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        # observed hours carry their own value (their bracket is 0-wide);
        # only true gaps interpolate
        F.expr(
            "cast(coalesce(cents,"
            " vp + ((vn - vp) * (hh - hp)) div nullif(hn - hp, 0))"
            " as long)"
        ).alias("value_lin_cents"),
    ).orderBy("user_id", "h")


_SQL_GAPFILL_LINEAR = f"""
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 10),
hourly AS (
  SELECT user_id, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM ev GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(h) AS lo, {_SQL_BOUNDED_HI} AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM span
),
j AS (
  SELECT g.user_id, g.h, hourly.n_events, hourly.cents,
         EPOCH(g.h)::BIGINT // 3600 AS hh,
         CASE WHEN hourly.cents IS NOT NULL
              THEN EPOCH(g.h)::BIGINT // 3600 END AS ohh
  FROM grid g LEFT JOIN hourly USING (user_id, h)
),
br AS (
  SELECT user_id, h, n_events, hh, cents,
         LAST_VALUE(cents IGNORE NULLS) OVER wb AS vp,
         LAST_VALUE(ohh IGNORE NULLS) OVER wb AS hp,
         FIRST_VALUE(cents IGNORE NULLS) OVER wf AS vn,
         FIRST_VALUE(ohh IGNORE NULLS) OVER wf AS hn
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, h,
       COALESCE(n_events, 0) AS n_events,
       CAST(COALESCE(cents,
                     vp + ((vn - vp) * (hh - hp)) // NULLIF(hn - hp, 0))
            AS BIGINT) AS value_lin_cents
FROM br
ORDER BY user_id, h
"""

# ---------------------------------------------------------------------------
# SCD Type-2 dimension history (gaps-and-islands run collapse)
# ---------------------------------------------------------------------------


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build: each user's event_type
    stream becomes a versioned history — consecutive runs of the same
    state collapse to one interval with ``valid_from``/``valid_to``
    (NULL = current), the table shape every warehouse dimension load
    produces (Kimball SCD2; the lake layer's MERGE is the other half).
    Rolled up per state so the result is bounded: interval count, closed
    count, and total closed duration in exact integer seconds.

    Gaps-and-islands: a lag-change flag and its running sum assign run
    ids; ``valid_to`` is the lead of the next run's start. Every window
    is partitioned by ``user_id`` and ordered by (ts, event_id) — the
    event_id tiebreak makes run assignment total-order deterministic.

    Scale: ONE hash exchange on user_id feeds the lag window, the
    run-group aggregate, and the lead window (Catalyst reuses the same
    distribution); the final state rollup is a 5-row aggregate with
    map-side partials. No self-joins, no global sort.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = flagged.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
    )
    # run_id tiebreak: two runs of a user CAN share a valid_from (two
    # state changes at the same timestamp); run_id is the total order
    wr = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    hist = runs.withColumn("valid_to", F.lead("valid_from").over(wr))
    return (
        hist.groupBy("state")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum(F.col("valid_to").isNotNull().cast("long"))
            .cast("long")
            .alias("n_closed"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("valid_to").isNotNull(),
                        F.unix_timestamp("valid_to")
                        - F.unix_timestamp("valid_from"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("closed_sec"),
        )
        .orderBy("state")
    )


_SQL_SCD2 = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
), runs0 AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS run_id
  FROM flagged
), runs AS (
  SELECT user_id, run_id, MIN(event_type) AS state, MIN(ts) AS valid_from
  FROM runs0 GROUP BY 1, 2
), hist AS (
  -- NULLS FIRST: Spark's ASC default; a run whose every event has NULL ts
  -- yields valid_from NULL, and DuckDB's NULLS-LAST default LEAD-ordered
  -- it differently (r09 family #13 sweep find — n_closed diverged)
  SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from NULLS FIRST, run_id)
              AS valid_to
  FROM runs
)
SELECT state,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_closed,
       CAST(COALESCE(SUM(CASE WHEN valid_to IS NOT NULL
                              THEN date_diff('second', valid_from, valid_to)
                         END), 0) AS BIGINT) AS closed_sec
FROM hist
GROUP BY state
ORDER BY state
"""

# ---------------------------------------------------------------------------
# ohlc_bars — open/high/low/close candles per (event_type, hour)
# ---------------------------------------------------------------------------


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type — the kdb/TimescaleDB financial
    downsampling staple: open (first value), high, low, close (last
    value), decimal-exact volume, and tick count per (event_type, hour).

    Open/close are selected by the total order ``(ts, event_id)`` via
    struct-min/max — ``min(struct(ts, event_id, value))`` compares
    lexicographically, so "first" is deterministic under timestamp ties
    AND mergeable (a pure aggregate, no window): partial candles from two
    partitions combine into the exact whole, which is the 100 TB shape —
    ONE map-side-combinable shuffle of (type, hour) keys, no per-row
    window state. The oracle states the same selection with rank-1
    windows (readable but unmergeable) — the green row proves the
    struct-min trick loses nothing. Volume sums in exact decimal
    (functions/numeric.py discipline); high/low are order-independent.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    first_s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "ts",
            "event_id",
            "value",
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.min(first_s).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(first_s).getField("value").alias("close"),
            dsum("value").alias("volume"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("event_type", "bar_hour")
    )


_SQL_OHLC = f"""
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn_d
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type, bar_hour,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       {sql_dsum('value')} AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM ranked
GROUP BY event_type, bar_hour
ORDER BY event_type, bar_hour
"""

# ---------------------------------------------------------------------------
# time_weighted_avg — trapezoid TWA per (user, type) stream, typed rollup
# ---------------------------------------------------------------------------


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (trapezoid rule) of ``value`` over each
    (user_id, event_type) stream, rolled up per type — the
    irregular-sampling average where a reading "holds" until the next one
    (TimescaleDB ``time_weight``'s semantics), which a plain AVG gets
    wrong whenever sampling cadence correlates with level.

    Exact integer discipline end-to-end: values in cents, interval
    lengths in whole seconds (per-pair ``div`` truncation, identical on
    both engines), per-stream integral as ``Σ (v₁+v₂)·dt`` kept at ×2
    scale so no fraction ever appears, and the final TWA in cents via one
    ``div (2·Σdt)``. Streams with zero elapsed seconds (single reading,
    or all readings inside one second) are excluded — their TWA is 0/0.

    Scale: ONE corpus exchange — the lag window partitions by (user_id,
    event_type), the same skew-free key as ``interarrival_stats``; the
    per-stream reduce and the per-type rollup are both
    map-side-combinable aggregates over already-partitioned narrow rows.
    Overflow-safe by construction: pair contribution ≤ 2·max_cents·dt_s
    ≈ 1e12 at a month-long gap, bigint headroom ~9e18.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.unix_micros(F.col("ts")).alias("t_us"),
            F.expr("cast(round(value * 100) as bigint)").alias("v_cents"),
        )
        .withColumn("prev_t", F.lag("t_us").over(w))
        .withColumn("prev_v", F.lag("v_cents").over(w))
        .where(F.col("prev_t").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.expr("(t_us - prev_t) div 1000000").alias("dt_s"),
            F.expr("(v_cents + prev_v) * ((t_us - prev_t) div 1000000)")
            .alias("contrib2"),
        )
    )
    streams = (
        pairs.groupBy("user_id", "event_type")
        .agg(
            F.sum("contrib2").cast("long").alias("integral2"),
            F.sum("dt_s").cast("long").alias("dur_s"),
        )
        .where(F.col("dur_s") > 0)
        .withColumn("twa_cents", F.expr("integral2 div (2 * dur_s)"))
    )
    return (
        streams.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streams"),
            F.sum("twa_cents").cast("long").alias("sum_twa_cents"),
            F.expr("cast(sum(twa_cents) div count(*) as long)").alias(
                "mean_twa_cents"
            ),
            F.min("twa_cents").cast("long").alias("min_twa_cents"),
            F.max("twa_cents").cast("long").alias("max_twa_cents"),
        )
        .orderBy("event_type")
    )


_SQL_TWA = """
WITH pairs AS (
  SELECT user_id, event_type,
         (EPOCH_US(ts) - lag(EPOCH_US(ts)) OVER w) // 1000000 AS dt_s,
         (CAST(ROUND(value * 100) AS BIGINT)
          + lag(CAST(ROUND(value * 100) AS BIGINT)) OVER w)
         * ((EPOCH_US(ts) - lag(EPOCH_US(ts)) OVER w) // 1000000) AS contrib2
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
), streams AS (
  SELECT user_id, event_type,
         CAST(SUM(contrib2) AS BIGINT) AS integral2,
         CAST(SUM(dt_s) AS BIGINT) AS dur_s
  FROM pairs WHERE dt_s IS NOT NULL
  GROUP BY 1, 2
), twa AS (
  SELECT event_type, integral2 // (2 * dur_s) AS twa_cents
  FROM streams WHERE dur_s > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_streams,
       CAST(SUM(twa_cents) AS BIGINT) AS sum_twa_cents,
       CAST(SUM(twa_cents) // COUNT(*) AS BIGINT) AS mean_twa_cents,
       CAST(MIN(twa_cents) AS BIGINT) AS min_twa_cents,
       CAST(MAX(twa_cents) AS BIGINT) AS max_twa_cents
FROM twa
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# event_attribution — last-touch channel attribution via the as-of join
# ---------------------------------------------------------------------------


def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to the
    channel of the same user's most recent click at-or-before it (channel
    derived from the click's ``props.k`` — ``ch_<k mod 4>``), purchases
    with no prior click (or a click without a k) land in
    ``unattributed``; per channel: purchase count and decimal-exact
    attributed revenue. The composition the as-of operator exists FOR —
    conversion credit assignment.

    Scale: the same single-shuffle as-of plan as ``asof_join_events``
    (one user_id hash exchange + one running-last window — no
    range-candidate blow-up), then a 5-row channel rollup. The JSON
    field extraction is a codegen'd projection on the click branch only.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # NULL-user clicks can attribute nothing: SQL's equi-ASOF never
    # matches NULL = NULL, but the window-based as-of operator groups
    # NULLs together — drop them on the click side so a NULL-user
    # purchase stays (left semantics) and lands in `unattributed` on both
    # engines
    clicks = (
        ev.where(
            (F.col("event_type") == "click") & F.col("user_id").isNotNull()
        ).select(
            "user_id",
            "ts",
            F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
            "event_id",
        )
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=("k",),
        suffix="_click",
        tiebreak="event_id",
    )
    channel = F.when(
        F.col("k_click").isNull(), F.lit("unattributed")
    ).otherwise(F.concat(F.lit("ch_"), (F.col("k_click") % 4).cast("string")))
    return (
        joined.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            dsum("value").alias("revenue"),
        )
        .orderBy("channel")
    )


_SQL_ATTRIBUTION = f"""
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, k FROM (
    SELECT user_id, ts,
           CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) AS k,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC NULLS LAST) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT CASE WHEN c.k IS NULL OR p.ts IS NULL THEN 'unattributed'
            ELSE 'ch_' || CAST(c.k % 4 AS VARCHAR) END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {sql_dsum('p.value')} AS revenue
-- NULL-ts contract (r09 family #13): timestamp-less clicks can never be
-- "most recent prior" and timestamp-less purchases match nothing — made
-- explicit because DuckDB's ASOF sorts NULL probes high instead of
-- rejecting them (see _SQL_ASOF)
FROM p ASOF LEFT JOIN (SELECT * FROM c WHERE ts IS NOT NULL) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# weekly_growth — week-over-week volume growth per event type
# ---------------------------------------------------------------------------


def weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: per (event_type, Monday-start ISO week),
    the event count, the previous OBSERVED week's count, and growth in
    ppm of the previous week (NULL on each type's first week) — the KPI
    trend line every dashboard opens with. Growth is vs the previous
    observed week; strict calendar densification is ``gapfill_locf``'s
    territory.

    Parity: the week bucket is ``to_date(date_trunc('week', ts))`` on
    Spark vs DuckDB's already-DATE ``date_trunc`` — both Monday-start.
    Growth is the first SIGNED ratio in the battery; both engines'
    integer division truncates toward zero (Spark ``div`` and DuckDB
    ``//`` give −5·10⁶ div 6 = −833333 alike — verified, NOT floor), so
    the plain div is already engine-identical and declines round toward
    zero by definition.

    Scale: ONE map-side-combinable count shuffle to
    |event_types|·|weeks| rows; the lag window and everything after run
    on that reduced table.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    wk = (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("week", "ts")).alias("week"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    return (
        wk.withColumn("prev_events", F.lag("n_events").over(w).cast("long"))
        .select(
            "event_type",
            "week",
            "n_events",
            "prev_events",
            F.expr(
                "cast((n_events - prev_events) * 1000000"
                " div nullif(prev_events, 0) as long)"
            ).alias("growth_ppm"),
        )
        .orderBy("event_type", "week")
    )


_SQL_WEEKLY_GROWTH = """
WITH wk AS (
  SELECT event_type, date_trunc('week', ts) AS week,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, week, n_events,
       CAST(lag(n_events) OVER (
         PARTITION BY event_type ORDER BY week) AS BIGINT) AS prev_events,
       CAST((n_events - lag(n_events) OVER (
         PARTITION BY event_type ORDER BY week)) * 1000000
         // NULLIF(lag(n_events) OVER (
              PARTITION BY event_type ORDER BY week), 0) AS BIGINT)
         AS growth_ppm
FROM wk
ORDER BY event_type, week
"""

# ---------------------------------------------------------------------------

QUERIES = {
    "asof_join_events": asof_join_events,
    "asof_join_forward": asof_join_forward,
    "range_join_bands": range_join_bands,
    "gapfill_locf": gapfill_locf,
    "gapfill_linear": gapfill_linear,
    "scd2_history": scd2_history,
    "ohlc_bars": ohlc_bars,
    "time_weighted_avg": time_weighted_avg,
    "event_attribution": event_attribution,
    "weekly_growth": weekly_growth,
}

ORACLE = {
    "asof_join_events": _SQL_ASOF,
    "asof_join_forward": _SQL_ASOF_FWD,
    "range_join_bands": _SQL_RANGE,
    "gapfill_locf": _SQL_GAPFILL,
    "gapfill_linear": _SQL_GAPFILL_LINEAR,
    "scd2_history": _SQL_SCD2,
    "ohlc_bars": _SQL_OHLC,
    "time_weighted_avg": _SQL_TWA,
    "event_attribution": _SQL_ATTRIBUTION,
    "weekly_growth": _SQL_WEEKLY_GROWTH,
}

# ---------------------------------------------------------------------------
# seasonal_anomaly — weekday-median baseline spike detection
# ---------------------------------------------------------------------------


def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware spike detection on daily order revenue: each day
    is compared to the exact MEDIAN revenue of its own weekday (a Monday
    is judged against Mondays), flagging days above 2x their weekday
    median — the deseasonalized twin of ``anomaly_zscore``.

    Exactness: the median rides as ``med2_cents`` = the SUM of the two
    middle elements of the per-weekday sort (positions (n+1)//2 and
    (n+2)//2; the odd case doubles the single middle) — an INTEGER even
    for even n, so the 2x-median flag is the pure-integer comparison
    ``cents > med2`` (cents > 2 x median) and the peak ratio pays ONE
    overflow-safe two-stage floored ppm division at the end
    (revenue_gini's decomposition, ratio vs the HALF-median base so the
    reported number is vs the median itself). No float median
    interpolation on either engine. Weekday is Spark ``dayofweek``
    (1=Sunday); the oracle pins ``EXTRACT(dow) + 1`` to the same frame.
    NULL order dates drop symmetrically.

    Scale: one (day) aggregate over orders — map-side combined — then
    every window partitions by weekday and shares one 7-key exchange,
    and the final rollup reuses it (grouping-key prefix). Day cardinality
    is bounded (years x 366), so the per-weekday sort is trivially small
    at any fact-table size: total cost is ONE scan + one day-key shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.where(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents")
        )
        .withColumn("dow", F.dayofweek("day").cast("long"))
    )
    wd = Window.partitionBy("dow")
    ws = wd.orderBy("cents", "day")
    ranked = (
        daily.withColumn("i", F.row_number().over(ws).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wd).cast("long"))
    )
    med = ranked.withColumn(
        "med_part",
        F.expr(
            "case when i = (n + 1) div 2 or i = (n + 2) div 2 then"
            " case when n % 2 = 0 then cents else cents * 2 end"
            " else 0 end"
        ),
    ).withColumn("med2", F.sum("med_part").over(wd).cast("long"))
    return (
        med.groupBy("dow")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.max("med2").cast("long").alias("med2_cents"),
            F.sum(F.expr("case when cents > med2 then 1 else 0 end"))
            .cast("long")
            .alias("n_anomalies"),
            F.expr(
                "cast(((max(cents) * 2 * 1000) div nullif(max(med2), 0))"
                " * 1000 + ((max(cents) * 2 * 1000) % nullif(max(med2), 0))"
                " * 1000 div nullif(max(med2), 0) as long)"
            ).alias("max_ratio_ppm"),
        )
        .orderBy("dow")
    )


_SQL_SEASONAL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1
), d2 AS (
  SELECT day, cents,
         CAST(EXTRACT(dow FROM day) + 1 AS BIGINT) AS dow
  FROM daily
), r AS (
  SELECT dow, day, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY dow ORDER BY cents, day)
              AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n
  FROM d2
), m AS (
  SELECT dow, day, cents, n,
         CASE WHEN i = (n + 1) // 2 OR i = (n + 2) // 2 THEN
           CASE WHEN n % 2 = 0 THEN cents ELSE cents * 2 END
         ELSE 0 END AS med_part
  FROM r
), w AS (
  SELECT dow, day, cents, n,
         CAST(SUM(med_part) OVER (PARTITION BY dow) AS BIGINT) AS med2
  FROM m
)
SELECT dow,
       CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(med2) AS BIGINT) AS med2_cents,
       CAST(SUM(CASE WHEN cents > med2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       CAST(((MAX(cents) * 2 * 1000) // NULLIF(MAX(med2), 0)) * 1000
            + ((MAX(cents) * 2 * 1000) % NULLIF(MAX(med2), 0)) * 1000
              // NULLIF(MAX(med2), 0) AS BIGINT) AS max_ratio_ppm
FROM w
GROUP BY dow
ORDER BY dow
"""

QUERIES["seasonal_anomaly"] = seasonal_anomaly
ORACLE["seasonal_anomaly"] = _SQL_SEASONAL


# ---------------------------------------------------------------------------
# cusum_drift — per-market CUSUM change detection on daily revenue
# ---------------------------------------------------------------------------

#: breach threshold: CUSUM above ``_CUSUM_H_MULT x k`` (k = the nation's
#: mean daily cents, the CUSUM drift allowance) counts as a breach day.
_CUSUM_H_MULT = 2


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — the shared Spark
    ``div`` / DuckDB ``//`` semantics (Python's ``//`` floors instead)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation CUSUM (cumulative-sum) level-shift detection over daily
    order revenue: ``S_i = max(0, S_{i-1} + x_i - k)`` with drift
    allowance k = the nation's mean daily cents, reporting the peak CUSUM
    mass, the first day it peaked, and the count of breach days
    (S > ``_CUSUM_H_MULT``·k) — the classic "did this market's run-rate
    shift upward, and when" monitor.

    CUSUM is inherently SEQUENTIAL (each S depends on its predecessor
    through a clamp, so no prefix-sum window expresses it). The Spark
    shape: the heavy work — fact-table scan + (nation, day) aggregate —
    is fully distributed and map-side combined; the recurrence then runs
    per-nation in an Arrow-batched ``applyInPandas`` kernel over the
    BOUNDED daily series (years x 366 rows per group, regardless of
    fact-table size). One nation = one group = one kernel call, the same
    parallelism the per-market Gini sort uses. The oracle replays the
    recurrence as a recursive CTE over the day-indexed series.

    Exactness: pure integer cents; k truncates toward zero on both
    engines (``_trunc_div`` mirrors div / ``//``); the peak day is the
    FIRST day attaining the max (strictly-greater update = MIN(day)
    among maxima). NULL order dates drop symmetrically (no position in a
    sequence); NULL custkeys drop with the inner dimension join.
    """
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    daily = (
        orders.where(
            F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull()
        )
        .join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents")
        )
    )

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day")
        xs = [int(v) for v in pdf["cents"]]
        days = list(pdf["day"])
        n = len(xs)
        k = _trunc_div(sum(xs), n)
        h = _CUSUM_H_MULT * k
        s, mx, peak, breaches = 0, 0, days[0], 0
        for xi, day in zip(xs, days):
            s = max(0, s + xi - k)
            if s > mx:
                mx, peak = s, day
            if s > h:
                breaches += 1
        return pd.DataFrame(
            [[pdf["n_name"].iloc[0], n, k, mx, peak, breaches]],
            columns=[
                "n_name", "n_days", "k_cents", "max_cusum_cents",
                "peak_day", "n_breaches",
            ],
        )

    return (
        daily.groupBy("n_name")
        .applyInPandas(
            _kernel,
            "n_name string, n_days bigint, k_cents bigint,"
            " max_cusum_cents bigint, peak_day date, n_breaches bigint",
        )
        .orderBy("n_name")
    )


_SQL_CUSUM = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
  GROUP BY 1, 2
), s AS MATERIALIZED (
  SELECT n_name, day, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY day)
              AS BIGINT) AS i
  FROM daily
), k AS MATERIALIZED (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) // COUNT(*) AS BIGINT) AS k
  FROM s GROUP BY 1
), r AS (
  SELECT s.n_name, s.i, s.day,
         GREATEST(0, s.cents - k.k) AS cusum
  FROM s JOIN k USING (n_name) WHERE s.i = 1
  UNION ALL
  SELECT s.n_name, s.i, s.day,
         GREATEST(0, r.cusum + s.cents - k.k)
  FROM r
  JOIN s ON s.n_name = r.n_name AND s.i = r.i + 1
  JOIN k ON k.n_name = s.n_name
), m AS (
  SELECT n_name, MAX(cusum) AS mx FROM r GROUP BY 1
)
SELECT r.n_name,
       CAST(k.n AS BIGINT) AS n_days,
       CAST(k.k AS BIGINT) AS k_cents,
       CAST(MAX(r.cusum) AS BIGINT) AS max_cusum_cents,
       MIN(CASE WHEN r.cusum = m.mx THEN r.day END) AS peak_day,
       CAST(SUM(CASE WHEN r.cusum > {_CUSUM_H_MULT} * k.k THEN 1 ELSE 0 END)
            AS BIGINT) AS n_breaches
FROM r
JOIN k USING (n_name)
JOIN m USING (n_name)
GROUP BY r.n_name, k.n, k.k
ORDER BY r.n_name
"""

QUERIES["cusum_drift"] = cusum_drift
ORACLE["cusum_drift"] = _SQL_CUSUM


# ---------------------------------------------------------------------------
# rolling_median_revenue — exact 7-day trailing median (robust trendline)
# ---------------------------------------------------------------------------


def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing 7-DAY (range, not rows — gaps in the calendar
    shrink the window) median of daily order revenue: the robust
    trendline ops dashboards draw instead of a mean that one flash-sale
    day drags. Median rides as ``med2`` = sum of the two middle elements
    of the sorted in-window list (integer even for even windows — the
    seasonal_anomaly discipline, per-row over a sliding frame).

    Exactness: collect-sort-pick is pure integer JVM work; both engines
    pick positions (n+1)//2 and (n+2)//2 of the sorted window. A RANGE
    frame over the day NUMBER makes calendar gaps first-class: both
    engines see the same membership.

    Scale: the sliding window runs over the DAILY aggregate — bounded at
    years x 366 rows no matter the fact-table size — so the
    single-partition window sort is a constant-size epilogue to one
    distributed scan + day-key shuffle (the skyline/sweep precedent:
    global order over a provably bounded frame). The 7-element in-window
    lists are constant-size.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.where(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents")
        )
        .withColumn("day_num", F.datediff("day", F.lit("1970-01-01")).cast("long"))
    )
    w7 = Window.orderBy("day_num").rangeBetween(-6, 0)
    return (
        daily.withColumn("s", F.sort_array(F.collect_list("cents").over(w7)))
        .select(
            "day",
            "cents",
            F.size("s").cast("long").alias("n_window"),
            F.expr(
                "element_at(s, cast((size(s) + 1) div 2 as int))"
                " + element_at(s, cast((size(s) + 2) div 2 as int))"
            ).cast("long").alias("med2_cents"),
        )
        .orderBy("day")
    )


_SQL_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1
), n AS (
  SELECT day, cents,
         CAST(DATE_DIFF('day', DATE '1970-01-01', day) AS BIGINT) AS day_num
  FROM daily
), w AS (
  SELECT day, cents,
         list_sort(list(cents) OVER (
           ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS s
  FROM n
)
SELECT day, cents,
       CAST(len(s) AS BIGINT) AS n_window,
       CAST(s[CAST((len(s) + 1) // 2 AS INT)]
            + s[CAST((len(s) + 2) // 2 AS INT)] AS BIGINT) AS med2_cents
FROM w
ORDER BY day
"""

QUERIES["rolling_median_revenue"] = rolling_median_revenue
ORACLE["rolling_median_revenue"] = _SQL_ROLLING_MEDIAN


# ---------------------------------------------------------------------------
# shipping_delay_profile — exact monthly fulfilment-latency percentiles
# ---------------------------------------------------------------------------


def shipping_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly fulfilment-latency profile: for each order month, the
    exact median (as ``med2`` = twice-median integer), the exact
    nearest-rank p90, and the max of ``l_shipdate - o_orderdate`` in
    days across line items — the ops-SLA percentile board, done with
    positional picks instead of float interpolation.

    Exactness: delays are integer days; p50 uses the twice-median sum of
    the two middle positions; p90 is the SQL nearest-rank element at
    position ceil(0.9 n) = (9n+9) div 10; the sort is uniquely pinned by
    (delay, l_orderkey, l_linenumber). NULL ship/order dates drop
    symmetrically before ranking.

    Scale: ONE fact-fact hash join on orderkey (orders prunes to two
    columns; no broadcast — both sides are fact-sized at 100 TB), then
    every window partitions by month and the rollup reuses that exchange.
    Months bound the partition count; within-month sorts are the honest
    cost of exact percentiles (the quantile_bins contrast: approx
    sketches trade exactly this sort away).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull() & F.col("l_orderkey").isNotNull()
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    delays = li.select("l_orderkey", "l_linenumber", "l_shipdate").join(
        orders, "l_orderkey"
    ).select(
        F.trunc("o_orderdate", "month").alias("month"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("delay"),
        "l_orderkey",
        "l_linenumber",
    )
    wm = Window.partitionBy("month")
    ws = wm.orderBy("delay", "l_orderkey", "l_linenumber")
    ranked = (
        delays.withColumn("i", F.row_number().over(ws).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wm).cast("long"))
    )
    return (
        ranked.groupBy("month")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            F.sum(
                F.expr(
                    "case when i = (n + 1) div 2 or i = (n + 2) div 2 then"
                    " case when n % 2 = 0 then delay else delay * 2 end"
                    " else 0 end"
                )
            ).cast("long").alias("med2_delay_days"),
            F.sum(
                F.expr(
                    "case when i = (9 * n + 9) div 10 then delay else 0 end"
                )
            ).cast("long").alias("p90_delay_days"),
            F.max("delay").cast("long").alias("max_delay_days"),
        )
        .orderBy("month")
    )


_SQL_SHIP_DELAY = """
WITH d AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS BIGINT) AS delay,
         l_orderkey, l_linenumber
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
    AND l_orderkey IS NOT NULL
), r AS (
  SELECT month, delay,
         CAST(ROW_NUMBER() OVER (PARTITION BY month
                ORDER BY delay, l_orderkey, l_linenumber) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY month) AS BIGINT) AS n
  FROM d
)
SELECT month,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN i = (n + 1) // 2 OR i = (n + 2) // 2 THEN
                  CASE WHEN n % 2 = 0 THEN delay ELSE delay * 2 END
                ELSE 0 END) AS BIGINT) AS med2_delay_days,
       CAST(SUM(CASE WHEN i = (9 * n + 9) // 10 THEN delay ELSE 0 END)
            AS BIGINT) AS p90_delay_days,
       CAST(MAX(delay) AS BIGINT) AS max_delay_days
FROM r
GROUP BY month
ORDER BY month
"""

QUERIES["shipping_delay_profile"] = shipping_delay_profile
ORACLE["shipping_delay_profile"] = _SQL_SHIP_DELAY


# ---------------------------------------------------------------------------
# theil_sen_trend — robust pairwise-slope trend of daily revenue
# ---------------------------------------------------------------------------


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator over daily order revenue: the MEDIAN of all
    pairwise slopes (c₂−c₁)/(d₂−d₁) — the robust trendline whose
    breakdown point (~29%) shrugs at the outlier days that drag
    ``zipf_fit``-style OLS; the standard robust-regression companion to
    ``rolling_median_revenue``'s level smoothing.

    Exactness: each pair's slope quantizes ONCE to truncated
    micro-cents-per-day (``div`` = ``//`` toward-zero parity on negative
    slopes), then the median rides as ``slope2`` = the twice-median,
    tie-broken by (slope, d1, d2).

    Scale — distributed selection, not a global sort: the n(n−1)/2 pair
    frame (day-bounded: years×366 days → ~3M pairs regardless of fact
    size) is bucketed by a fixed integer slope histogram
    (``_TS_BUCKETS`` cells); the bucket counts (a BOUNDED ≤4096-row
    collect — the heavy_hitters driver-partial precedent) locate which
    buckets hold the two median positions, and ONLY those buckets
    (~n/4096 rows) are sorted, global position = bucket offset + local
    rank. Stats and offsets inject as LITERALS so the hot 3M-row passes
    stay in WholeStageCodegen — the measured alternatives at sf0.1:
    global single-partition window 6.2 s, broadcast-stats BNLJ variant
    ~5 s, this ~2.5 s. The oracle deliberately states the readable
    global-window form, so the green row proves the selection lossless.
    Equal slopes always share a bucket, so the (d1, d2) tie-break never
    crosses a bucket boundary.
    """
    from ._cache import scoped

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.where(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents")
        )
        .select(
            F.datediff("day", F.lit("1970-01-01")).cast("long").alias("d"),
            "cents",
        )
        .persist()
    )
    # round-robin the LEFT side of the pair fan-out across the cores: the
    # day-bounded aggregate coalesces to ~1 task, so the O(n²/2) slope
    # generation + the slopes persist otherwise ran SERIAL while every
    # other core idled (r13, r12-verdict item 4 — the query scaled 0.71
    # at 8-vs-32 cores because this stage never parallelized). The frame
    # is calendar-bounded (366·years rows) at ANY corpus scale, so a
    # defaultParallelism exchange of it is a few KB forever — the pair
    # fan-out it unlocks is the real work (~n²/2 rows).
    width = daily.sparkSession.sparkContext.defaultParallelism
    a = daily.select(F.col("d").alias("d1"), F.col("cents").alias("c1")) \
        .repartition(width)
    b = daily.select(F.col("d").alias("d2"), F.col("cents").alias("c2"))
    slopes = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            F.expr("(c2 - c1) * 1000000 div (d2 - d1)").alias("slope"),
        )
        .persist()
    )
    st = slopes.agg(
        F.min("slope"), F.max("slope"), F.count(F.lit(1))
    ).first()
    mn, mx, n = st[0], st[1], int(st[2])
    if n == 0:
        daily.unpersist()
        slopes.unpersist()
        return spark.range(1).select(
            F.lit(0).cast("long").alias("n_pairs"),
            F.lit(None).cast("long").alias("med2_slope_micro"),
            F.lit(None).cast("long").alias("min_slope_micro"),
            F.lit(None).cast("long").alias("max_slope_micro"),
        )
    k1, k2 = (n + 1) // 2, (n + 2) // 2

    # RECURSIVE histogram refinement (r13; r12-verdict item 4). One
    # histogram level is not enough when slopes cluster: at sf0.1 the
    # median bucket held 1.28 M of the 2.89 M pairs (44% — daily revenue
    # is stationary, so most pair slopes crowd around 0), and "sort only
    # the median bucket" degenerated into a 1-task window sort of nearly
    # half the pair frame (measured 2.5 s of the query's 4.4 s). Each
    # refinement level scans the CACHED slope table once with a range
    # filter and collects ≤ _TS_BUCKETS counts, multiplying resolution by
    # 4096× per level, so ≤ ~5 levels cover any int64 range; the loop
    # stops when the target range is ONE slope value (rows are ties —
    # the order statistic IS that value, no sort at all: tie-breaks
    # permute equal slopes among themselves and cannot change the value
    # at a global rank) or small enough (_TS_SORT_CAP) that the final
    # rank window is a bounded single-bucket sort.
    def _locate(k: int) -> tuple[int, int, int, int]:
        """Narrow global rank ``k`` to a slope range: returns
        (lo, hi, rows_before_range, rows_in_range) with hi == lo (exact
        tie value) or rows_in_range <= _TS_SORT_CAP."""
        lo, hi, off = int(mn), int(mx), 0
        cnt_in = n
        while hi > lo and cnt_in > _TS_SORT_CAP:
            bw = (hi - lo) // _TS_BUCKETS + 1
            hist = sorted(
                (r.b, r.cnt)
                for r in slopes.where(
                    (F.col("slope") >= lo) & (F.col("slope") <= hi)
                )
                .groupBy(F.expr(f"(slope - ({lo})) div {bw}").alias("b"))
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                .collect()
            )
            before = off
            for bkt, cnt in hist:
                if before < k <= before + cnt:
                    lo, hi = (
                        lo + int(bkt) * bw,
                        min(hi, lo + (int(bkt) + 1) * bw - 1),
                    )
                    off, cnt_in = before, int(cnt)
                    break
                before += cnt
        return lo, hi, off, cnt_in

    known = 0          # med2 contribution resolved exactly (tie ranges)
    sort_ranges = {}   # (lo, hi) -> (off, [target ks]) still needing a sort
    located: tuple | None = None
    for k in (k1, k2):
        # k2 is k1 or k1+1: when it falls inside k1's located range (the
        # common case), reuse it instead of re-running the descent's
        # collect jobs
        if located is not None and located[2] < k <= located[2] + located[3]:
            lo, hi, off, cnt_in = located
        else:
            lo, hi, off, cnt_in = located = _locate(k)
        if hi == lo:
            known += lo
        else:
            ent = sort_ranges.setdefault((lo, hi), (off, []))
            ent[1].append(k)
    if sort_ranges:
        rid_expr = "case " + " ".join(
            f"when slope >= {lo}L and slope <= {hi}L then {i}"
            for i, (lo, hi) in enumerate(sort_ranges)
        ) + " else -1 end"
        off_expr = "case " + " ".join(
            f"when rid = {i} then {off}L"
            for i, (off, _ks) in enumerate(sort_ranges.values())
        ) + " else 0L end"
        k_cases = " + ".join(
            f"case when i = {k} then slope else 0 end"
            for _off, ks in sort_ranges.values()
            for k in ks
        )
        cond = None
        for lo, hi in sort_ranges:
            c = (F.col("slope") >= lo) & (F.col("slope") <= hi)
            cond = c if cond is None else (cond | c)
        wl = Window.partitionBy("rid").orderBy("slope", "d1", "d2")
        result = (
            slopes.where(cond)
            .withColumn("rid", F.expr(rid_expr))
            .withColumn("i", F.expr(off_expr) + F.row_number().over(wl))
            .agg(
                F.lit(n).cast("long").alias("n_pairs"),
                (F.lit(known) + F.sum(F.expr(k_cases)))
                .cast("long").alias("med2_slope_micro"),
                F.lit(int(mn)).cast("long").alias("min_slope_micro"),
                F.lit(int(mx)).cast("long").alias("max_slope_micro"),
            )
        )
    else:
        # both order statistics landed on tie ranges — the median is
        # exact with no sort stage at all (the common shape on peaked
        # slope distributions)
        result = spark.range(1).select(
            F.lit(n).cast("long").alias("n_pairs"),
            F.lit(known).cast("long").alias("med2_slope_micro"),
            F.lit(int(mn)).cast("long").alias("min_slope_micro"),
            F.lit(int(mx)).cast("long").alias("max_slope_micro"),
        )
    return scoped(result, daily, slopes)


#: slope-histogram cells for the distributed median selection
_TS_BUCKETS = 4096
#: stop refining when the target range holds at most this many pair rows —
#: the final rank window then sorts a bounded single bucket (64 k rows ≈
#: milliseconds) instead of whatever fraction of the pair frame one
#: histogram level happened to leave in the median bucket
_TS_SORT_CAP = 65536


_SQL_THEIL_SEN = """
WITH daily AS (
  SELECT CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS d,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY CAST(o_orderdate AS DATE)
), s AS (
  SELECT a.d AS d1, b.d AS d2,
         (b.cents - a.cents) * 1000000 // (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
), r AS (
  SELECT slope,
         CAST(ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN i = (n + 1) // 2 OR i = (n + 2) // 2 THEN
                  CASE WHEN n % 2 = 0 THEN slope ELSE slope * 2 END
                ELSE 0 END) AS BIGINT) AS med2_slope_micro,
       CAST(MIN(slope) AS BIGINT) AS min_slope_micro,
       CAST(MAX(slope) AS BIGINT) AS max_slope_micro
FROM r
"""

QUERIES["theil_sen_trend"] = theil_sen_trend
ORACLE["theil_sen_trend"] = _SQL_THEIL_SEN
