"""Operator-layer capabilities exercised as oracle-checkable queries
(SURVEY.md §2: B13 validate_split, B14 enrich_metadata, B15
partition_key_extract).

These run the REAL operator implementations (operators/validate.py,
operators/enrich.py, operators/partitioning.py) and reduce their output to
deterministic relations the DuckDB oracle can replicate — proving the
operator semantics, not a parallel reimplementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (dsum, measure_domain,
                                 sql_dsum, sql_measure_domain)
from ..operators.enrich import enrich_with_metadata
from ..operators.errors import ERROR_COL, with_error_col
from ..operators.partitioning import partition_key
from ..operators.validate import validate_schema
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# B13: rule-based validation → ok/err accounting (A11 as a query)
# ---------------------------------------------------------------------------

def validate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run validate_schema over events, then account rows per status.

    Rules (first declared failing rule wins, like the reference's sequential
    validator): non-negative value; known event_type; JSON props must carry
    ``k``. The oks/errs split is re-unioned with a status tag so one
    deterministic relation captures both streams.
    """
    ev = load_table(spark, sf_dir, "events")
    # 'error'-typed events and high values are deliberately rejected so both
    # streams of the split are non-empty on the test corpus
    known = ["click", "view", "purchase", "signup"]
    out = validate_schema(
        ev,
        {
            "value_cap": F.col("value") < 180,
            "known_type": F.col("event_type").isin(known),
            "k_in_props": F.get_json_object(F.col("props"), "$.k").isNotNull(),
        },
    )
    tagged = with_error_col(out.oks).unionByName(out.errs)
    return (
        tagged.groupBy(F.coalesce(F.col(ERROR_COL), F.lit("ok")).alias("status"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .orderBy("status")
    )


_SQL_VALIDATE = f"""
SELECT
  CASE
    WHEN NOT COALESCE(value < 180, FALSE) THEN 'validation failed: value_cap'
    WHEN NOT COALESCE(event_type IN ('click','view','purchase','signup'), FALSE)
      THEN 'validation failed: known_type'
    WHEN NOT COALESCE(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END IS NOT NULL, FALSE)
      THEN 'validation failed: k_in_props'
    ELSE 'ok'
  END AS status,
  COUNT(*) AS n,
  {sql_dsum('value')} AS total_value
FROM events
GROUP BY status
ORDER BY status
"""

# ---------------------------------------------------------------------------
# B14: metadata enrichment (A13 as a query)
# ---------------------------------------------------------------------------

def enrich_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived/metadata columns via the enrich operator (deterministic set).

    The reference's canonical enricher adds processing metadata per record in
    Python (operators.py:509-513); here four derived columns are a single
    codegen'd projection.
    """
    ev = load_table(spark, sf_dir, "events")
    out = enrich_with_metadata(
        ev,
        {
            # measure_domain: Spark's floor(double)->bigint silently
            # saturates (NaN->0, huge->Long.MAX) where the oracle's CAST
            # aborts — guard so a poisoned value aborts on BOTH engines
            # instead of landing in a real bucket (r09 family #12 sweep)
            "value_bucket": F.floor(measure_domain("value") / 50).cast("long"),
            "is_purchase": F.col("event_type") == "purchase",
            "event_day": F.date_trunc("day", F.col("ts")).cast("date"),
            "k": F.get_json_object(F.col("props"), "$.k").cast("long"),
        },
    )
    return out.oks.select("event_id", "value_bucket", "is_purchase", "event_day", "k")


_SQL_ENRICH = f"""
SELECT event_id,
       CAST(FLOOR({sql_measure_domain('value')} / 50) AS BIGINT) AS value_bucket,
       event_type = 'purchase' AS is_purchase,
       CAST(DATE_TRUNC('day', ts) AS DATE) AS event_day,
       CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
FROM events
"""

# ---------------------------------------------------------------------------
# B15: Iceberg partition-key extraction (A6 as a query)
# ---------------------------------------------------------------------------

def partition_key_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute each record's hidden-partition tuple (day(ts), identity
    bucket) and count records per partition — the distributed analogue of
    _partition_records' group-by-key buffers (connector.py:261-335).

    The bucket uses an oracle-expressible mod (user_id % 8) rather than
    murmur3 bucket[N] so DuckDB can verify the *grouping semantics*; the
    murmur3 path is covered by unit tests (tests/test_partitioning.py).
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "uid_bucket", (F.col("user_id") % 8).cast("long")
    )
    keyed = partition_key(ev, [("ts", "day"), ("uid_bucket", "identity")])
    return (
        keyed.groupBy(
            F.col("_p_ts_day").cast("date").alias("p_day"),
            F.col("_p_uid_bucket").alias("p_bucket"),
        )
        .agg(F.count("*").alias("n_records"))
        .orderBy("p_day", "p_bucket")
    )


_SQL_PARTITION_KEY = """
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS p_day,
       CAST(user_id % 8 AS BIGINT) AS p_bucket,
       COUNT(*) AS n_records
FROM events
GROUP BY p_day, p_bucket
ORDER BY p_day, p_bucket
"""

# ---------------------------------------------------------------------------
# Salted skew join (operators/skew.py as a query)
# ---------------------------------------------------------------------------

_SALTS = 8


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL salting operator (operators/skew.salted_join) on the
    worst-case skewed join the schema offers — events on its 5-value
    ``event_type`` key, where a plain shuffle join lands ~20% of the fact
    table on ONE reducer — against a derived per-type dim, then roll up.
    The oracle replays the UNSALTED join: salting must be row-invisible
    (identical result, different partitioning), which is precisely the
    operator's contract.

    Scale: the salt spreads each hot key over 8 reducers; the dim side
    replicates 8×5 = 40 rows — the documented dim-replication cost, noise
    at any scale. Deterministic salt (content xxhash64, no rand()) keeps
    task retries replay-identical.
    """
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1), ("error", 0), ("purchase", 3),
         ("signup", 2), ("view", 1)],
        "event_type string, weight int",
    )
    joined = salted_join(ev, dim, on="event_type", n_salts=_SALTS)
    return (
        joined.groupBy("event_type", "weight")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum("value * weight").alias("weighted_value"),
        )
        .orderBy("event_type")
    )


_SQL_SALTED = f"""
WITH dim(event_type, weight) AS (
  VALUES ('click', 1), ('error', 0), ('purchase', 3),
         ('signup', 2), ('view', 1)
)
SELECT e.event_type, dim.weight,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('e.value * dim.weight')} AS weighted_value
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type, dim.weight
ORDER BY e.event_type
"""

# ---------------------------------------------------------------------------
# Malformed-JSON ingest split (A14's error philosophy at the parse boundary)
# ---------------------------------------------------------------------------

_CORRUPT_STRIDE = 13


def json_ingest_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time malformed-record accounting: every 13th event's JSON
    payload is deterministically corrupted (closing brace truncated —
    mirrored verbatim in the oracle; note Spark's Jackson parser is
    LENIENT about trailing garbage, so corruption must break the object
    itself), then the parse stage splits valid rows from
    malformed ones and accounts both per event_type, plus the extracted
    value mass from the VALID side only — the PERMISSIVE-mode parse
    split every production ingest runs (and the query proves corrupt
    payloads cannot leak into the extracted aggregate).

    Scale: from_json + the split predicate are codegen'd projections —
    zero shuffle before the per-type rollup; the reference's error-split
    (_iceberg_error_split, connector operators.py) applied at the parse
    boundary instead of the schema boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    planted = ev.withColumn(
        "praw",
        F.when(
            F.col("event_id") % _CORRUPT_STRIDE == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    parsed = planted.withColumn(
        "pk", F.from_json("praw", "k INT")["k"]
    ).withColumn("malformed", F.col("pk").isNull())
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("malformed").cast("long")).cast("long").alias(
                "n_malformed"
            ),
            F.coalesce(F.sum(F.when(~F.col("malformed"), F.col("pk"))), F.lit(0))
            .cast("long")
            .alias("sum_k_valid"),
        )
        .orderBy("event_type")
    )


_SQL_JSON_ERRORS = f"""
WITH planted AS (
  SELECT event_type,
         CASE WHEN event_id % {_CORRUPT_STRIDE} = 0
              THEN substr(props, 1, len(props) - 1) ELSE props END AS praw
  FROM events
), parsed AS (
  -- from_json('k INT') twin (r09 family #14 sweep): the engine yields a
  -- value ONLY for integer JSON tokens that fit int32 — string "7",
  -- 1.9, booleans, arrays, objects, and out-of-range ints are all NULL
  -- (= classified malformed). The old bare CAST crashed the ORACLE on a
  -- non-scalar k ('[1,2]') — the validation query whose entire job is
  -- classifying such shapes must never abort. json_type gates to
  -- integer tokens (UBIGINT/BIGINT); TRY_CAST nulls the >int32 tail.
  SELECT event_type,
         CASE WHEN json_valid(praw)
                AND json_type(json_extract(praw, '$.k'))
                      IN ('UBIGINT', 'BIGINT')
              THEN TRY_CAST(json_extract_string(praw, '$.k') AS INTEGER)
         END AS pk
  FROM planted
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_malformed,
       CAST(COALESCE(SUM(pk), 0) AS BIGINT) AS sum_k_valid
FROM parsed
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------

QUERIES = {
    "validate_split": validate_split,
    "enrich_metadata": enrich_metadata,
    "partition_key_extract": partition_key_extract,
    "skew_salted_join": skew_salted_join,
    "json_ingest_errors": json_ingest_errors,
}

ORACLE = {
    "validate_split": _SQL_VALIDATE,
    "enrich_metadata": _SQL_ENRICH,
    "partition_key_extract": _SQL_PARTITION_KEY,
    "skew_salted_join": _SQL_SALTED,
    "json_ingest_errors": _SQL_JSON_ERRORS,
}
