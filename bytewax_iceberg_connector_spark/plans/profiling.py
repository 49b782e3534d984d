"""Data-quality profiling — the admission-control battery a lake runs on
every ingested table before trusting it downstream: per-column profiles,
referential-integrity audits, arrival-cadence statistics, hot-key skew
reports, and the event-type transition matrix.

Extends the reference's validation surface (`validate_schema`,
reference connector.py error-split philosophy) from per-ROW rules to
TABLE-level contracts: a row can pass every row rule while the table
violates an FK edge or hides a hot key that will melt a shuffle.

Parity discipline matches the rest of the repo: every ratio is integer
ppm/milli arithmetic over exact bigint sums (`div` / `//`), every
windowed order has a unique tie-break, doubles appear only where both
engines evaluate the identical expression text.

Scale notes inline per query; the common thread: profiles are one-pass
map-side-combinable aggregates, audits shuffle KEYS (never payloads),
and every report-sized window is bounded by construction (top-k cut or
|event_types|² rows) before it runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# table_profile — per-column null/distinct/bounds profile of one table
# ---------------------------------------------------------------------------

#: (column, bigint-expression for min/max bounds | None for string columns).
#: Numeric bounds are normalized to EXACT bigints — cents for the money
#: column, epoch-micros for the timestamp — so the profile row never rides
#: on float formatting; rounding commutes with min/max (monotonic).
_PROFILE_COLS = (
    ("o_custkey", "o_custkey"),
    ("o_orderdate", "unix_micros(o_orderdate)"),
    ("o_orderkey", "o_orderkey"),
    ("o_orderpriority", None),
    ("o_orderstatus", None),
    ("o_totalprice", "cast(round(o_totalprice * 100) as bigint)"),
)


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders``: row count, null count, exact
    distinct count, and bounds (bigint-normalized for numeric/timestamp
    columns, lexicographic for strings) — the datasheet a catalog shows
    next to every registered table, and the input to join-planning
    heuristics (distinct counts) and stats-based pruning (bounds).

    Scale: TWO column-pruned scans, deliberately split. Mixing
    multi-column exact distincts with plain min/max/count in one ``agg``
    makes Catalyst route EVERY measure through the distincts' Expand pass
    (rows × |profiled columns|, codegen-hostile — measured ~3× slower);
    split, the plain measures stay in one whole-stage-codegen partial
    aggregate and the distincts get their own Expand-only aggregate, the
    two 1-row results meeting in a free crossJoin. A 100 TB profile would
    flip ``countDistinct`` to ``approx_count_distinct`` (HLL — no Expand,
    and the whole profile folds back into ONE scan) and keep every other
    measure identical. The wide 1-row result pivots to per-column rows
    JVM-side via ``inline`` — no second action, no driver loop.
    """
    orders = load_table(spark, sf_dir, "orders")
    measures = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    distincts = []
    for c, num in _PROFILE_COLS:
        measures.append(F.count(c).cast("long").alias(f"{c}__nn"))
        distincts.append(F.countDistinct(c).cast("long").alias(f"{c}__nd"))
        if num:
            measures.append(F.min(F.expr(num)).cast("long").alias(f"{c}__mn"))
            measures.append(F.max(F.expr(num)).cast("long").alias(f"{c}__mx"))
        else:
            measures.append(F.min(c).cast("string").alias(f"{c}__mn"))
            measures.append(F.max(c).cast("string").alias(f"{c}__mx"))
    wide = orders.agg(*measures).crossJoin(orders.agg(*distincts))
    rows = []
    for c, num in _PROFILE_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"{c}__nn")).cast("long").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                (F.col(f"{c}__mn") if num else F.lit(None).cast("long")).alias(
                    "min_num"
                ),
                (F.col(f"{c}__mx") if num else F.lit(None).cast("long")).alias(
                    "max_num"
                ),
                (F.col(f"{c}__mn") if not num else F.lit(None).cast("string"))
                .cast("string")
                .alias("min_str"),
                (F.col(f"{c}__mx") if not num else F.lit(None).cast("string"))
                .cast("string")
                .alias("max_str"),
            )
        )
    return wide.select(F.inline(F.array(*rows))).orderBy("col_name")


#: DuckDB bounds expression per profiled column (None → string column);
#: must mirror _PROFILE_COLS' Spark expressions value-for-value.
_PROFILE_DUCK = {
    "o_custkey": "o_custkey",
    "o_orderdate": "EPOCH_US(o_orderdate)",
    "o_orderkey": "o_orderkey",
    "o_orderpriority": None,
    "o_orderstatus": None,
    "o_totalprice": "CAST(ROUND(o_totalprice * 100) AS BIGINT)",
}


def _profile_branch(col: str, num: str | None) -> str:
    if num:
        mn, mx = f"CAST(MIN({num}) AS BIGINT)", f"CAST(MAX({num}) AS BIGINT)"
        smn = smx = "CAST(NULL AS VARCHAR)"
    else:
        mn = mx = "CAST(NULL AS BIGINT)"
        smn, smx = f"MIN({col})", f"MAX({col})"
    return f"""
  SELECT '{col}' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
         CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {smn} AS min_str, {smx} AS max_str
  FROM orders"""


_SQL_PROFILE = (
    "\nUNION ALL\n".join(
        _profile_branch(c, _PROFILE_DUCK[c]) for c, _ in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)

# ---------------------------------------------------------------------------
# fk_integrity — referential-integrity audit over the star-schema FK graph
# ---------------------------------------------------------------------------

#: (edge label, child table, child key, parent table, parent key, broadcast?)
#: broadcast=True for dimension parents whose key set is provably tiny
#: (nation/region); fact-sized parents (orders) go through the normal
#: shuffled anti-join and AQE picks broadcast when the key set fits.
_FK_EDGES = (
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
)


def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every FK edge in the star schema:
    per edge, the child row count, NULL-key rows (which violate nothing —
    SQL FK semantics), distinct child keys, and orphan rows/keys whose
    non-NULL key has no parent. The lake admission check that catches a
    truncated dimension load before a fact join silently drops rows.

    Scale — ONE pass over each child's key column (the r04 verdict's
    fusion): the child pre-aggregates to (key, n) — a map-side-combinable
    exchange whose join input is distinct-key-sized, not child-row-sized
    — then LEFT-joins the parent's distinct keys as a matched flag, and
    every statistic falls out of one PLAIN aggregate over that per-key
    frame (child_rows = Σn, orphans = rows where the flag is absent). No
    countDistinct anywhere, so nothing rides an Expand (the table_profile
    trap); provably tiny dimension parents (nation/region) broadcast
    explicitly, fact-sized parents let AQE upgrade when the runtime key
    set fits. Each edge's result is a 1-row aggregate; the union is
    |edges| rows.

    Measured at sf0.1 (r05 A/B, warm): this form ≈2.4–2.7 s vs the old
    2-pass/anti-join ≈2.0–2.6 s — local wall-clock is scheduler noise on
    a 14-scan union DAG, NOT the discriminator. The form is chosen for
    the 100 TB shape: the old form scanned every fact key column twice
    (stats agg + anti-join) and rode countDistinct's Expand; this one
    scans once, ships distinct-key-sized join inputs after the map-side
    combine, and its parent `.distinct()` keeps counts exact even
    against a corrupted parent with duplicate PKs (which is precisely
    when an integrity audit must not lie).
    """
    frames = []
    for edge, child_t, ck, parent_t, pk, bcast in _FK_EDGES:
        child = load_table(spark, sf_dir, child_t).select(ck)
        # distinct-ing the parent key makes the matched-flag join safe
        # even against a corrupted parent with duplicate PKs (the audit
        # must not multiply counts exactly when the data is at its worst)
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(pk).alias(ck))
            .distinct()
            .withColumn("_matched", F.lit(1))
        )
        if bcast:
            parent = F.broadcast(parent)
        per_key = child.groupBy(ck).agg(F.count(F.lit(1)).alias("n"))
        joined = per_key.join(parent, on=ck, how="left")
        notnull = F.col(ck).isNotNull()
        orphan = notnull & F.col("_matched").isNull()
        frames.append(
            joined.agg(
                F.coalesce(F.sum("n"), F.lit(0))
                .cast("long")
                .alias("child_rows"),
                F.coalesce(F.sum(F.when(F.col(ck).isNull(), F.col("n"))), F.lit(0))
                .cast("long")
                .alias("null_rows"),
                F.count(F.when(notnull, 1)).cast("long").alias("child_keys"),
                F.coalesce(F.sum(F.when(orphan, F.col("n"))), F.lit(0))
                .cast("long")
                .alias("orphan_rows"),
                F.count(F.when(orphan, 1)).cast("long").alias("orphan_keys"),
            ).select(
                F.lit(edge).alias("edge"),
                "child_rows",
                "null_rows",
                "child_keys",
                "orphan_rows",
                "orphan_keys",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


def _fk_branch(edge: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
  SELECT '{edge}' AS edge,
         CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS child_rows,
         CAST((SELECT COUNT(*) FROM {child} WHERE {ck} IS NULL) AS BIGINT)
           AS null_rows,
         CAST((SELECT COUNT(DISTINCT {ck}) FROM {child}) AS BIGINT)
           AS child_keys,
         CAST((SELECT COUNT(*) FROM {child} c
               WHERE c.{ck} IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM {parent} p
                                 WHERE p.{pk} = c.{ck})) AS BIGINT)
           AS orphan_rows,
         CAST((SELECT COUNT(DISTINCT c.{ck}) FROM {child} c
               WHERE c.{ck} IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM {parent} p
                                 WHERE p.{pk} = c.{ck})) AS BIGINT)
           AS orphan_keys"""


_SQL_FK = (
    "\nUNION ALL\n".join(
        _fk_branch(e, c, ck, p, pk) for e, c, ck, p, pk, _ in _FK_EDGES
    )
    + "\nORDER BY edge"
)

# ---------------------------------------------------------------------------
# interarrival_stats — per-type event cadence from per-user gaps
# ---------------------------------------------------------------------------


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-cadence profile: for every event type, the distribution of
    per-user inter-event gaps (exact integer microseconds) — gap count,
    min/max, exact sum, and the integer mean. The signal behind session
    timeout tuning (streaming_session's 30-min constant), watermark
    sizing, and bot detection (min gap ≈ 0 at volume).

    Gaps are defined WITHIN (user_id, event_type) streams ordered by
    ``(ts, event_id)`` — the unique tie-break makes consecutive-pair
    selection identical on both engines even under timestamp ties.
    NULL-timestamp events are excluded on BOTH sides before the window
    (an unknown arrival time can't form a gap — and the engines disagree
    on NULL placement in window order, Spark NULLS FIRST vs DuckDB NULLS
    LAST, so leaving them in would silently reorder the pairing).

    Scale: ONE shuffle — the lag window partitions by (user_id,
    event_type), a high-cardinality skew-free key, carrying only the
    8-byte epoch-micros column (payload pruned at the scan); the per-type
    rollup that follows is map-side-combinable into |event_types| rows.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .where(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
            F.expr("cast(sum(gap_us) div count(*) as long)").alias(
                "mean_gap_us"
            ),
        )
        .orderBy("event_type")
    )


_SQL_INTERARRIVAL = """
WITH g AS (
  SELECT event_type,
         EPOCH_US(ts) - lag(EPOCH_US(ts)) OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS gap_us
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS mean_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# key_skew_report — hot-key concentration diagnosis
# ---------------------------------------------------------------------------

_SKEW_TOPK = 10


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew diagnosis on ``events.user_id`` — the report you run
    BEFORE choosing a join/agg strategy on a key (the decision input to
    ``skew_salted_join``): the top-``_SKEW_TOPK`` keys by row count with
    each key's exact corpus share (ppm), its multiple of the mean per-key
    count (milli — >> 1000 means salting territory), and the cumulative
    share of the top prefix.

    Scale: one map-side-combinable count shuffle (key → count — this is
    the measurement, so it sees the skew it measures, but carries 16-byte
    rows, not payloads), a TakeOrdered top-k cut, and a window over the
    ≤ k surviving rows (bounded by construction). The grand totals ride a
    broadcast 1-row crossJoin.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    totals = counts.agg(
        F.sum("n_events").cast("long").alias("total_events"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        counts.orderBy(F.desc("n_events"), "user_id")
        .limit(_SKEW_TOPK)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_events",
            F.sum("n_events")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "rnk",
            "user_id",
            "n_events",
            F.expr(
                "cast(n_events * 1000000 div nullif(total_events, 0) as long)"
            ).alias("share_ppm"),
            F.expr(
                "cast(n_events * n_keys * 1000 div nullif(total_events, 0)"
                "     as long)"
            ).alias("mean_multiple_milli"),
            F.expr(
                "cast(cum_events * 1000000 div nullif(total_events, 0) as long)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("rnk")
    )


_SQL_SKEW = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
), top AS (
  -- NULLS FIRST: a NULL key is a legitimate hot key (it stays in the
  -- report) and Spark's ASC default is NULLS FIRST — the cut and the
  -- rank must agree on where it sorts
  SELECT user_id, n_events FROM counts
  ORDER BY n_events DESC, user_id NULLS FIRST LIMIT {_SKEW_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       user_id, n_events,
       CAST(n_events * 1000000 // NULLIF(total_events, 0) AS BIGINT)
         AS share_ppm,
       CAST(n_events * n_keys * 1000 // NULLIF(total_events, 0) AS BIGINT)
         AS mean_multiple_milli,
       CAST(SUM(n_events) OVER (w ROWS UNBOUNDED PRECEDING) * 1000000
            // NULLIF(total_events, 0) AS BIGINT) AS cum_share_ppm
FROM top, tot
WINDOW w AS (ORDER BY n_events DESC, user_id NULLS FIRST)
ORDER BY rnk
"""

# ---------------------------------------------------------------------------
# event_transition_matrix — per-user event-type bigram transitions
# ---------------------------------------------------------------------------


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov matrix: for every (prev → next)
    event-type pair observed in per-user ``(ts, event_id)`` order, the
    transition count and the row-normalized probability in exact ppm —
    the funnel generalization (``event_funnel`` checks ONE path; this
    reports every edge) and the base table for next-action models.

    Scale: ONE corpus shuffle — the lag window partitions by user_id
    (skew-free natural key) carrying two small strings; the pair rollup
    is map-side-combinable into ≤ |event_types|² rows, and the
    row-normalizing window runs on that bounded matrix, never on events.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
    )
    counts = (
        pairs.groupBy(
            F.col("prev_type"), F.col("event_type").alias("next_type")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    wrow = Window.partitionBy("prev_type")
    return (
        counts.withColumn(
            "row_total", F.sum("n_trans").over(wrow).cast("long")
        )
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            F.expr(
                "cast(n_trans * 1000000 div nullif(row_total, 0) as long)"
            ).alias("prob_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


_SQL_TRANSITION = """
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_type,
         event_type AS next_type
  FROM events WHERE ts IS NOT NULL
), counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_trans,
       CAST(n_trans * 1000000
            // NULLIF(SUM(n_trans) OVER (PARTITION BY prev_type), 0)
            AS BIGINT) AS prob_ppm
FROM counts
ORDER BY prev_type, next_type
"""


# ---------------------------------------------------------------------------
# corr_matrix — deterministic Pearson correlations between fact measures
# ---------------------------------------------------------------------------

#: measure pairs and each side's decimal scale (inputs are <=2-dp; the
#: engines derive every product's exact scale as sx+sy themselves)
_CORR_PAIRS = (
    ("l_quantity", "l_discount", 0, 2),
    ("l_quantity", "l_extendedprice", 0, 2),
    ("l_extendedprice", "l_discount", 2, 2),
)


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-complete Pearson correlations between the lineitem
    measures — the engine's CORR/COVAR surface, made run-to-run
    deterministic: the built-in ``corr()`` accumulates in floating point
    (order-dependent on a cluster, and DuckDB's accumulation differs), so
    every moment here is an EXACT decimal sum (inputs are ≤2-dp; every
    pairwise product is ≤4-dp — representable exactly), and the
    closed-form ``(n·Σxy − Σx·Σy) / √((n·Σxx − Σx²)(n·Σyy − Σy²))`` is
    one identical double expression on both engines, quantized to micro
    units.

    PAIRWISE-COMPLETE like the built-in: every moment of pair (x, y) —
    including n and the single-column sums — aggregates only rows where
    BOTH x and y are non-NULL. Mixing a COUNT(*) n with NULL-skipping
    sums is not Pearson at all (each pair's moments must describe one
    common row set); this also means per-pair moments genuinely differ
    and cannot be shared across pairs.

    Scale: ONE scan, one 1-row map-side-combinable aggregate (all pairs'
    moments in the same pass), pivoted to rows JVM-side via ``inline`` —
    `table_profile`'s shape with zero distincts, so no Expand and no
    shuffle beyond the single-partition final combine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for x, y, sx, sy in _CORR_PAIRS:
        k = f"{x}__{y}"
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        cx = F.when(both, dec(x, sx))
        cy = F.when(both, dec(y, sy))
        aggs += [
            # coalesce: SUM over an EMPTY table is NULL, but this n
            # restates the oracle's COUNT(*) FILTER — which is 0 there
            F.coalesce(F.sum(both.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"{k}_n"),
            F.sum(cx).alias(f"{k}_sx"),
            F.sum(cy).alias(f"{k}_sy"),
            F.sum(cx * dec(x, sx)).alias(f"{k}_sxx"),
            F.sum(cy * dec(y, sy)).alias(f"{k}_syy"),
            F.sum(cx * dec(y, sy)).alias(f"{k}_sxy"),
        ]
    wide = li.agg(*aggs)
    rows = []
    for x, y, *_ in _CORR_PAIRS:
        k = f"{x}__{y}"
        n = f"{k}_n"
        num = f"({n} * cast({k}_sxy as double) - cast({k}_sx as double) * cast({k}_sy as double))"
        dx = f"({n} * cast({k}_sxx as double) - cast({k}_sx as double) * cast({k}_sx as double))"
        dy = f"({n} * cast({k}_syy as double) - cast({k}_sy as double) * cast({k}_sy as double))"
        rows.append(
            F.struct(
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                F.col(n).alias("n"),
                F.expr(
                    f"cast(round({num} / nullif(sqrt({dx} * {dy}), 0)"
                    " * 1000000) as long)"
                ).alias("corr_micro"),
            )
        )
    return wide.select(F.inline(F.array(*rows))).orderBy("x_col", "y_col")


def _corr_branch(x: str, y: str, sx: int, sy: int) -> str:
    cx, cy = f"CAST({x} AS DECIMAL(18,{sx}))", f"CAST({y} AS DECIMAL(18,{sy}))"
    flt = f"FILTER (WHERE {x} IS NOT NULL AND {y} IS NOT NULL)"
    n = f"COUNT(*) {flt}"
    return f"""
  SELECT '{x}' AS x_col, '{y}' AS y_col,
         CAST({n} AS BIGINT) AS n,
         CAST(ROUND(
           ({n} * CAST(SUM({cx} * {cy}) {flt} AS DOUBLE)
            - CAST(SUM({cx}) {flt} AS DOUBLE)
              * CAST(SUM({cy}) {flt} AS DOUBLE))
           / NULLIF(SQRT(
               ({n} * CAST(SUM({cx} * {cx}) {flt} AS DOUBLE)
                - CAST(SUM({cx}) {flt} AS DOUBLE)
                  * CAST(SUM({cx}) {flt} AS DOUBLE))
               * ({n} * CAST(SUM({cy} * {cy}) {flt} AS DOUBLE)
                  - CAST(SUM({cy}) {flt} AS DOUBLE)
                    * CAST(SUM({cy}) {flt} AS DOUBLE))
             ), 0)
           * 1000000) AS BIGINT) AS corr_micro
  FROM lineitem"""


_SQL_CORR = (
    "\nUNION ALL\n".join(
        _corr_branch(x, y, sx, sy) for x, y, sx, sy in _CORR_PAIRS
    )
    + "\nORDER BY x_col, y_col"
)



# ---------------------------------------------------------------------------
# benford_check — first-significant-digit law audit on order totals
# ---------------------------------------------------------------------------


def benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit on ``o_totalprice`` — the standard
    fabricated-data / fraud screen: per leading significant digit, the
    observed count and share (ppm) against the Benford expectation
    ``log10(1 + 1/d)`` in ppm, and the signed deviation. Synthetic or
    manipulated amounts show up as a flat (or truncated-band) profile —
    which this corpus's generator indeed produces; the query measures,
    it does not assume.

    Parity: the leading digit is extracted from the DIGIT STRING of the
    exact cents integer (``substr(cast(cents as string), 1, 1)``) —
    never via float log10, whose power-of-ten boundaries round
    differently across engines. The only transcendental is the Benford
    constant itself, computed as an identically-rounded micro-log on
    both engines (the cooccurrence_pmi ln discipline).

    Scale: one map-side-combinable 9-group aggregate over a single
    pruned column; the total rides the same 9-row frame via a window.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.where(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.expr(
                    f"cast(cast(floor({dec.sql('o_totalprice')}"
                    " * 100) as bigint) as string)"
                ),
                1,
                1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wall = Window.partitionBy()
    return (
        digits.withColumn("total", F.sum("n").over(wall).cast("long"))
        .select(
            "digit",
            "n",
            F.expr("cast(n * 1000000 div nullif(total, 0) as long)").alias(
                "share_ppm"
            ),
            F.expr(
                "cast(round(log10(1d + 1d / cast(digit as double))"
                " * 1000000) as long)"
            ).alias("benford_ppm"),
            F.expr(
                "cast(n * 1000000 div nullif(total, 0)"
                " - cast(round(log10(1d + 1d / cast(digit as double))"
                "       * 1000000) as long) as long)"
            ).alias("delta_ppm"),
        )
        .orderBy("digit")
    )


_SQL_BENFORD = """
WITH d AS (
  SELECT substr(CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                     AS BIGINT) AS VARCHAR), 1, 1) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM d
)
SELECT digit, n,
       CAST(n * 1000000 // NULLIF(total, 0) AS BIGINT) AS share_ppm,
       CAST(ROUND(log10(1 + 1 / CAST(digit AS DOUBLE)) * 1000000) AS BIGINT)
         AS benford_ppm,
       CAST(n * 1000000 // NULLIF(total, 0)
            - CAST(ROUND(log10(1 + 1 / CAST(digit AS DOUBLE)) * 1000000)
                   AS BIGINT) AS BIGINT) AS delta_ppm
FROM d CROSS JOIN t
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# order_reconciliation — header totals vs line-item sums (value integrity)
# ---------------------------------------------------------------------------

_RECON_TOL_CENTS = 1


def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level referential integrity — ``fk_integrity``'s sibling at
    the MEASURE level: does each order header's total equal its lines'
    ``Σ price·(1−discount)·(1+tax)``? Reports orders-with-lines,
    exactly-reconciled count (|Δ| ≤ 1 cent), reconciliation ppm, exact
    integer mean/max absolute delta, and headless/lineless counts — the
    audit every finance pipeline runs. (This corpus's generator draws
    header totals independently of lines; the report states that
    honestly rather than assuming consistency.)

    Parity: both sides are FLOOR(decimal × 100) exact cents (the
    supplier_share_trend truncate-vs-round pinning).

    Scale: one orderkey-grouped aggregate over lineitem (map-side
    combined), one equi-join against the header on the same key (AQE
    picks broadcast vs shuffle by size), then a 1-row rollup. A full
    outer join carries the lineless/headless tails.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            f"cast(floor({dec.sql('o_totalprice')} * 100)"
            " as bigint)"
        ).alias("head_cents"),
    )
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey").isNotNull())
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('l_extendedprice')}"
                f" * (1 - {dec.sql('l_discount')})"
                f" * (1 + {dec.sql('l_tax')})) * 100) as bigint)"
            ).alias("line_cents")
        )
    )
    j = orders.join(lines, "o_orderkey", "full_outer").select(
        "head_cents",
        "line_cents",
        F.abs(F.col("head_cents") - F.col("line_cents")).alias("d_cents"),
    )
    return j.agg(
        F.count(F.when(F.col("d_cents").isNotNull(), 1))
        .cast("long")
        .alias("n_with_both"),
        F.sum(
            F.when(F.col("d_cents") <= _RECON_TOL_CENTS, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_reconciled"),
        F.expr(
            "cast(sum(case when d_cents <= {tol} then 1 else 0 end)"
            " * 1000000 div nullif(count(d_cents), 0) as long)".format(
                tol=_RECON_TOL_CENTS
            )
        ).alias("reconciled_ppm"),
        F.expr("cast(sum(d_cents) div nullif(count(d_cents), 0) as long)")
        .alias("mean_abs_delta_cents"),
        F.max("d_cents").cast("long").alias("max_abs_delta_cents"),
        F.count(
            F.when(
                F.col("line_cents").isNull() & F.col("head_cents").isNotNull(),
                1,
            )
        )
        .cast("long")
        .alias("n_lineless_orders"),
        F.count(
            F.when(
                F.col("head_cents").isNull() & F.col("line_cents").isNotNull(),
                1,
            )
        )
        .cast("long")
        .alias("n_headless_lines"),
    )


_SQL_RECONCILIATION = f"""
WITH heads AS (
  SELECT o_orderkey,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS head_cents
  FROM orders
), ls AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))
              * (1 + CAST(l_tax AS DECIMAL(18,2)))) * 100) AS BIGINT)
           AS line_cents
  FROM lineitem WHERE l_orderkey IS NOT NULL
  GROUP BY 1
), j AS (
  SELECT head_cents, line_cents, ABS(head_cents - line_cents) AS d_cents
  FROM heads FULL OUTER JOIN ls USING (o_orderkey)
)
SELECT CAST(COUNT(d_cents) AS BIGINT) AS n_with_both,
       CAST(SUM(CASE WHEN d_cents <= {_RECON_TOL_CENTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
       CAST(SUM(CASE WHEN d_cents <= {_RECON_TOL_CENTS} THEN 1 ELSE 0 END)
            * 1000000 // NULLIF(COUNT(d_cents), 0) AS BIGINT)
         AS reconciled_ppm,
       CAST(SUM(d_cents) // NULLIF(COUNT(d_cents), 0) AS BIGINT)
         AS mean_abs_delta_cents,
       CAST(MAX(d_cents) AS BIGINT) AS max_abs_delta_cents,
       CAST(COUNT(CASE WHEN line_cents IS NULL AND head_cents IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_lineless_orders,
       CAST(COUNT(CASE WHEN head_cents IS NULL AND line_cents IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_headless_lines
FROM j
"""

QUERIES = {
    "table_profile": table_profile,
    "fk_integrity": fk_integrity,
    "interarrival_stats": interarrival_stats,
    "key_skew_report": key_skew_report,
    "event_transition_matrix": event_transition_matrix,
    "corr_matrix": corr_matrix,
    "benford_check": benford_check,
    "order_reconciliation": order_reconciliation,
}

ORACLE = {
    "table_profile": _SQL_PROFILE,
    "fk_integrity": _SQL_FK,
    "interarrival_stats": _SQL_INTERARRIVAL,
    "key_skew_report": _SQL_SKEW,
    "event_transition_matrix": _SQL_TRANSITION,
    "corr_matrix": _SQL_CORR,
    "benford_check": _SQL_BENFORD,
    "order_reconciliation": _SQL_RECONCILIATION,
}


# ---------------------------------------------------------------------------
# revenue_gini_by_nation — exact revenue-concentration (Gini) per market
# ---------------------------------------------------------------------------


def revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: the exact Gini coefficient of
    per-customer order totals — ``(2·Σi·xᵢ − (n+1)·Σxᵢ) div (n·Σxᵢ)``
    over each nation's customers sorted ascending — in ppm, plus the
    top-decile revenue share. The "how dependent is this market on its
    whales" report (Gini 0 = equal books, → 1 = one customer is the
    market).

    Exactness: xᵢ are exact order cents; the ppm scaling uses the exact
    TWO-STAGE floor decomposition — with q₁ = (A·10³) div B and r₁ =
    (A·10³) mod B, ``floor(A·10⁶/B) = q₁·10³ + (r₁·10³) div B`` — so
    (since A ≤ B for a Gini numerator and the decile mass) no
    intermediate exceeds B·10³. The naive ``A·10⁶ div B`` AND the
    one-stage remainder form both overflowed BIGINT at sf0.1 (caught
    live under ANSI mode; both engines' div/% agree on non-negative
    operands, and neither has a portable 128-bit integral division).

    Scale: one custkey aggregate over orders (map-side combined), one
    broadcast of the customer dimension's (custkey → nation) columns,
    then ALL windows partition by nation — the sort is per-market and
    parallel, never global (the skyline/percentiles contrast: Gini needs
    a full in-group sort, so the group key IS the parallelism).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    per_cust = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.expr(
                f"cast(floor(sum({dec.sql('o_totalprice')}) * 100)"
                " as bigint)"
            ).alias("cents")
        )
        .join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
    )
    w = Window.partitionBy("n_name").orderBy("cents", "o_custkey")
    wn = Window.partitionBy("n_name")
    ranked = (
        per_cust.withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("long"))
        .withColumn("tot", F.sum("cents").over(wn).cast("long"))
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max("tot").cast("long").alias("total_cents"),
            F.expr(
                "cast((((2 * sum(i * cents) - (max(n) + 1) * max(tot))) * 1000 div NULLIF((max(n) * max(tot)), 0)) * 1000 + ((((2 * sum(i * cents) - (max(n) + 1) * max(tot))) * 1000) % NULLIF((max(n) * max(tot)), 0)) * 1000 div NULLIF((max(n) * max(tot)), 0) as long)"
            ).alias("gini_ppm"),
            F.expr(
                "cast(((sum(case when i > n - n div 10 then cents else 0 end)) * 1000 div NULLIF(max(tot), 0)) * 1000 + (((sum(case when i > n - n div 10 then cents else 0 end)) * 1000) % NULLIF(max(tot), 0)) * 1000 div NULLIF(max(tot), 0) as long)"
            ).alias("top_decile_share_ppm"),
        )
        .orderBy("n_name")
    )


_SQL_GINI = """
WITH pc AS (
  SELECT o_custkey,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
              AS BIGINT) AS cents
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY 1
), j AS (
  SELECT n_name, pc.o_custkey, pc.cents
  FROM pc
  JOIN customer ON c_custkey = pc.o_custkey
  JOIN nation ON n_nationkey = c_nationkey
), r AS (
  SELECT n_name, cents,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY n_name ORDER BY cents, o_custkey) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
         CAST(SUM(cents) OVER (PARTITION BY n_name) AS BIGINT) AS tot
  FROM j
)
SELECT n_name,
       CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(MAX(tot) AS BIGINT) AS total_cents,
       CAST((((2 * SUM(i * cents) - (MAX(n) + 1) * MAX(tot))) * 1000 // NULLIF((MAX(n) * MAX(tot)), 0)) * 1000 + ((((2 * SUM(i * cents) - (MAX(n) + 1) * MAX(tot))) * 1000) % NULLIF((MAX(n) * MAX(tot)), 0)) * 1000 // NULLIF((MAX(n) * MAX(tot)), 0) AS BIGINT) AS gini_ppm,
       CAST(((SUM(CASE WHEN i > n - n // 10 THEN cents ELSE 0 END)) * 1000 // NULLIF(MAX(tot), 0)) * 1000 + (((SUM(CASE WHEN i > n - n // 10 THEN cents ELSE 0 END)) * 1000) % NULLIF(MAX(tot), 0)) * 1000 // NULLIF(MAX(tot), 0) AS BIGINT) AS top_decile_share_ppm
FROM r
GROUP BY n_name
ORDER BY n_name
"""

QUERIES["revenue_gini_by_nation"] = revenue_gini_by_nation
ORACLE["revenue_gini_by_nation"] = _SQL_GINI


# ---------------------------------------------------------------------------
# crosstab_deviation — chi-square-style contingency-cell audit
# ---------------------------------------------------------------------------

_CROSSTAB_TOPK = 20


def crosstab_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation x market-segment contingency audit: for every cell, the
    observed customer count against the independence expectation,
    reported as the exact INTEGER deviation ``dev = obs*N - row_tot *
    col_tot`` (the chi-square numerator scaled by N — positive =
    over-represented pairing), top ``_CROSSTAB_TOPK`` cells by |dev|.
    The "which market segments cluster in which geographies" screen, in
    the integer-exact idiom (a float chi-square statistic would hit the
    engines' division/rounding divergence; the scaled numerator ranks
    cells identically).

    Scale: one customer scan -> one (nation, segment) cell aggregate
    (map-side combined; cell space is |nations| x |segments|, tiny);
    row/col totals fold FROM the cell table and broadcast back. Global
    top-k over a bounded cell table is a TakeOrdered, not a sort.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    cells = (
        cust.join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        .persist()
    )
    row_tot = cells.groupBy("n_name").agg(F.sum("obs").alias("row_tot"))
    col_tot = cells.groupBy("c_mktsegment").agg(F.sum("obs").alias("col_tot"))
    n_tot = cells.agg(F.sum("obs").alias("n_tot"))
    from ._cache import scoped

    result = (
        cells.join(F.broadcast(row_tot), "n_name")
        .join(F.broadcast(col_tot), "c_mktsegment")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "n_name", "c_mktsegment", "obs",
            F.col("row_tot").cast("long").alias("row_tot"),
            F.col("col_tot").cast("long").alias("col_tot"),
            (F.col("obs") * F.col("n_tot")
             - F.col("row_tot") * F.col("col_tot"))
            .cast("long")
            .alias("dev"),
        )
        .orderBy(F.abs(F.col("dev")).desc(), "n_name", "c_mktsegment")
        .limit(_CROSSTAB_TOPK)
    )
    return scoped(result, cells)


_SQL_CROSSTAB = f"""
WITH cells AS (
  SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS obs
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2
), rt AS (
  SELECT n_name, SUM(obs) AS row_tot FROM cells GROUP BY 1
), ct AS (
  SELECT c_mktsegment, SUM(obs) AS col_tot FROM cells GROUP BY 1
), nt AS (
  SELECT SUM(obs) AS n_tot FROM cells
)
SELECT cells.n_name, cells.c_mktsegment, obs,
       CAST(row_tot AS BIGINT) AS row_tot,
       CAST(col_tot AS BIGINT) AS col_tot,
       CAST(obs * n_tot - row_tot * col_tot AS BIGINT) AS dev
FROM cells
JOIN rt USING (n_name)
JOIN ct USING (c_mktsegment)
CROSS JOIN nt
ORDER BY ABS(obs * n_tot - row_tot * col_tot) DESC, n_name, c_mktsegment
LIMIT {_CROSSTAB_TOPK}
"""

QUERIES["crosstab_deviation"] = crosstab_deviation
ORACLE["crosstab_deviation"] = _SQL_CROSSTAB


# ---------------------------------------------------------------------------
# k_anonymity_audit — re-identification risk profile over quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, account-balance-to-the-hundred): the
    equivalence-class size histogram — singleton classes are directly
    re-identifying, classes under k=``_K_ANON`` violate the release
    threshold — the standard privacy pre-release screen (Sweeney's
    k-anonymity), the PII-risk complement to ``pii_scrub``'s
    content-level scan.

    Exactness: the balance bucket is exact integer cents div 10000
    (floored decimal cents first — the supplier_share_trend cast-parity
    rule); class sizes and histogram bounds are pure counts. Bucket
    labels pin lexicographically-stable strings on both engines.

    Scale: one customer scan -> one QI-key aggregate (map-side
    combined) -> one histogram aggregate over class sizes (bounded by
    distinct sizes). No joins, no windows: the audit costs one shuffle
    at any table size.
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                f"cast(floor({dec.sql('c_acctbal')} * 100)"
                " as bigint) div 10000"
            ).alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    )
    bucket = F.expr(
        "case when class_size = 1 then '1: singleton'"
        f" when class_size < {_K_ANON} then '2: under_k'"
        " when class_size < 10 then '3: 5-9'"
        " else '4: 10+' end"
    )
    return (
        classes.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("class_size").cast("long").alias("n_rows"),
            F.max(
                (F.col("class_size") < _K_ANON).cast("long")
            ).alias("violates_k"),
        )
        .orderBy("size_bucket")
    )


_SQL_K_ANON = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT)
           // 10000 AS bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT CASE WHEN class_size = 1 THEN '1: singleton'
            WHEN class_size < {_K_ANON} THEN '2: under_k'
            WHEN class_size < 10 THEN '3: 5-9'
            ELSE '4: 10+' END AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       CAST(MAX(CASE WHEN class_size < {_K_ANON} THEN 1 ELSE 0 END)
            AS BIGINT) AS violates_k
FROM classes
GROUP BY 1
ORDER BY 1
"""

QUERIES["k_anonymity_audit"] = k_anonymity_audit
ORACLE["k_anonymity_audit"] = _SQL_K_ANON


# ---------------------------------------------------------------------------
# return_rate_outliers — over-returning customers vs the corpus base rate
# ---------------------------------------------------------------------------

_RETURN_TOPK = 15
_RETURN_MIN_LINES = 5


def return_rate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-abuse screen: customers whose line-item return share
    (``l_returnflag = 'R'``) exceeds 1.5x the corpus base rate, with at
    least ``_RETURN_MIN_LINES`` lines (small-sample singletons are
    noise, not signal), top ``_RETURN_TOPK`` by exceedance. The
    value-level sibling of ``order_reconciliation``'s totals audit.

    Exactness: the rate comparison is multiplied through — ``2 *
    returned * base_n > 3 * base_returned * n`` — so no engine ever
    divides; reported rates are floored ppm; ranking pins (rate DESC,
    n_lines DESC, custkey).

    Scale: one lineitem⋈orders fact join on orderkey (both sides fact-
    sized: hash join, no broadcast), one per-customer aggregate, the
    1-row corpus rate broadcast back, bounded TakeOrdered top-k.
    Overflow: returned ≤ n ≤ base_n ≈ 6e11 lines at 100 TB —
    returned*base_n ≈ 3.6e23 exceeds BIGINT, so both engines compute the
    comparison in DECIMAL(38,0) exactly (no rounding: products of
    integers).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey").isNotNull()
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey")
    per_cust = (
        li.select("l_orderkey", "l_returnflag")
        .join(orders, "l_orderkey")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.expr("case when l_returnflag = 'R' then 1 else 0 end")
            ).cast("long").alias("n_returned"),
        )
        .persist()
    )
    base = per_cust.agg(
        F.sum("n_lines").cast("long").alias("base_n"),
        F.sum("n_returned").cast("long").alias("base_returned"),
    )
    from ._cache import scoped

    result = (
        per_cust.where(F.col("n_lines") >= _RETURN_MIN_LINES)
        .crossJoin(F.broadcast(base))
        .withColumn(
            "exceed",
            F.expr(
                "2 * cast(n_returned as decimal(38,0)) * base_n"
                " - 3 * cast(base_returned as decimal(38,0)) * n_lines"
            ),
        )
        .where(F.col("exceed") > 0)
        .select(
            "o_custkey", "n_lines", "n_returned",
            F.expr("n_returned * 1000000 div n_lines").cast("long").alias(
                "rate_ppm"
            ),
            F.expr("base_returned * 1000000 div base_n").cast("long").alias(
                "base_rate_ppm"
            ),
        )
        .orderBy(
            F.expr("n_returned * 1000000 div n_lines").desc(),
            F.col("n_lines").desc(),
            "o_custkey",
        )
        .limit(_RETURN_TOPK)
    )
    return scoped(result, per_cust)


_SQL_RETURN_OUTLIERS = f"""
WITH pc AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_orderkey IS NOT NULL AND o_custkey IS NOT NULL
  GROUP BY 1
), base AS (
  SELECT SUM(n_lines) AS base_n, SUM(n_returned) AS base_returned FROM pc
)
SELECT o_custkey, n_lines, n_returned,
       CAST(n_returned * 1000000 // n_lines AS BIGINT) AS rate_ppm,
       CAST(base_returned * 1000000 // base_n AS BIGINT) AS base_rate_ppm
FROM pc CROSS JOIN base
WHERE n_lines >= {_RETURN_MIN_LINES}
  AND 2 * CAST(n_returned AS DECIMAL(38,0)) * base_n
      - 3 * CAST(base_returned AS DECIMAL(38,0)) * n_lines > 0
ORDER BY n_returned * 1000000 // n_lines DESC, n_lines DESC, o_custkey
LIMIT {_RETURN_TOPK}
"""

QUERIES["return_rate_outliers"] = return_rate_outliers
ORACLE["return_rate_outliers"] = _SQL_RETURN_OUTLIERS


# ---------------------------------------------------------------------------
# blocking_efficiency — entity-resolution blocking-strategy evaluation
# ---------------------------------------------------------------------------


def blocking_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking audit over the customer table: for
    each candidate blocking strategy (nation / segment / nation+segment)
    the block count, the largest block, the candidate-pair mass
    Σ C(size, 2), and the reduction ratio vs the unblocked C(N, 2) cross
    product — the standard ER planning report that decides whether a
    blocking key tames the quadratic match step (the dedup families'
    LSH-band tables are exactly such blocks; this measures the
    dimension-key alternatives).

    Exactness: pure BIGINT counts — C(N,2) fits to ~3e9 customers, and
    the reduction ratio uses the two-stage floored ppm decomposition
    (revenue_gini's recipe) so no intermediate exceeds cross_pairs·10³.
    NOTE a new parity class found here: DuckDB's ``//`` on DECIMAL
    operands ROUNDS to scale where Spark's decimal ``div`` truncates —
    integer ``//`` vs ``div`` agree, so ratios must stay in BIGINT.
    Strategy labels are pinned strings.

    Scale: one customer scan per strategy aggregate (three map-side
    combined aggregates over the same scan — Spark caches nothing here;
    at 100 TB you'd reuse one scan via a persisted projection, which the
    bounded 3-strategy union makes a single job anyway); block tables
    are dimension-key-sized.
    """
    cust = load_table(spark, sf_dir, "customer")
    n_tot = cust.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        "n", F.expr("n * (n - 1) div 2").cast("long").alias("cross_pairs")
    )
    out = None
    for label, keys in (
        ("1: nation", ["c_nationkey"]),
        ("2: segment", ["c_mktsegment"]),
        ("3: nation+segment", ["c_nationkey", "c_mktsegment"]),
    ):
        blocks = (
            cust.groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("sz"))
            .agg(
                F.lit(label).alias("strategy"),
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.max("sz").cast("long").alias("max_block"),
                F.sum(F.expr("sz * (sz - 1) div 2"))
                .cast("long")
                .alias("pairs_dec"),
            )
        )
        out = blocks if out is None else out.unionAll(blocks)
    return (
        out.crossJoin(F.broadcast(n_tot))
        .select(
            "strategy", "n_blocks", "max_block",
            F.col("pairs_dec").cast("long").alias("candidate_pairs"),
            F.expr(
                "cast((((cross_pairs - pairs_dec) * 1000)"
                " div nullif(cross_pairs, 0)) * 1000"
                " + (((cross_pairs - pairs_dec) * 1000) % nullif(cross_pairs, 0))"
                " * 1000 div nullif(cross_pairs, 0) as long)"
            ).alias("reduction_ppm"),
        )
        .orderBy("strategy")
    )


_SQL_BLOCKING = """
WITH tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS cross_pairs
  FROM customer
), s1 AS (
  SELECT '1: nation' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MAX(sz) AS BIGINT) AS max_block,
         CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pairs_dec
  FROM (SELECT COUNT(*) AS sz FROM customer GROUP BY c_nationkey)
), s2 AS (
  SELECT '2: segment', CAST(COUNT(*) AS BIGINT),
         CAST(MAX(sz) AS BIGINT),
         CAST(SUM(sz * (sz - 1) // 2) AS BIGINT)
  FROM (SELECT COUNT(*) AS sz FROM customer GROUP BY c_mktsegment)
), s3 AS (
  SELECT '3: nation+segment', CAST(COUNT(*) AS BIGINT),
         CAST(MAX(sz) AS BIGINT),
         CAST(SUM(sz * (sz - 1) // 2) AS BIGINT)
  FROM (SELECT COUNT(*) AS sz FROM customer
        GROUP BY c_nationkey, c_mktsegment)
), u AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
)
SELECT strategy, n_blocks, max_block,
       CAST(pairs_dec AS BIGINT) AS candidate_pairs,
       CAST((((cross_pairs - pairs_dec) * 1000)
             // NULLIF(cross_pairs, 0)) * 1000
            + (((cross_pairs - pairs_dec) * 1000) % NULLIF(cross_pairs, 0))
              * 1000 // NULLIF(cross_pairs, 0) AS BIGINT) AS reduction_ppm
FROM u CROSS JOIN tot
ORDER BY strategy
"""

QUERIES["blocking_efficiency"] = blocking_efficiency
ORACLE["blocking_efficiency"] = _SQL_BLOCKING
