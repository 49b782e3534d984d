"""Regression tests for the round-1 ADVICE findings: short-doc shingles,
as-of NULL-carry (frankenrow), pivot NULL-vs-0, salted outer joins, and
stateful TTL/key-type derivation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bytewax_iceberg_connector_spark.functions import text as X
from bytewax_iceberg_connector_spark.operators.asof import asof_join
from bytewax_iceberg_connector_spark.operators.skew import salted_join
from bytewax_iceberg_connector_spark.streaming.stateful import (
    dedup_first_seen,
    duration_ms,
)


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


# ---------------------------------------------------------------------------
# shingles: documents shorter than n tokens must yield [], not crash
# ---------------------------------------------------------------------------

def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame(
        [("one",), ("one two",), ("one two three",), ("", ), (None,)],
        "body STRING",
    )
    rows = df.select(
        X.shingles("body", 3).alias("s"),
        X.shingle_hashes("body", 3).alias("h"),
    ).collect()
    assert rows[0]["s"] == [] and rows[0]["h"] == []
    assert rows[1]["s"] == [] and rows[1]["h"] == []
    assert rows[2]["s"] == ["one two three"] and len(rows[2]["h"]) == 1
    assert rows[3]["s"] == []
    assert rows[4]["s"] is None  # null text stays null


def test_shingles_matches_np_kernel_on_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c d")], "doc_id INT, body STRING"
    )
    expr_n = df.select(F.size(X.shingles("body", 3)).alias("n")).collect()
    np_n = df.select(F.size(X.shingle_hashes_np(3)("body")).alias("n")).collect()
    assert [r["n"] for r in expr_n] == [r["n"] for r in np_n] == [0, 0, 2]


# ---------------------------------------------------------------------------
# asof_join: a NULL value column in the MATCHED right row must be carried
# as NULL, not patched with an older row's non-null value (frankenrow)
# ---------------------------------------------------------------------------

def test_asof_null_value_in_matched_row_stays_null(spark):
    left = spark.createDataFrame([(1, _ts(30), "x")], "k INT, ts TIMESTAMP, tag STRING")
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(20), None)],
        "k INT, ts TIMESTAMP, v DOUBLE",
    )
    row = asof_join(left, right, on="k", value_cols=("v",)).collect()[0]
    # the matched row is ts=20 (latest <= 30); its v is genuinely NULL
    assert row["ts_right"] == _ts(20)
    assert row["v_right"] is None


def test_asof_multi_value_cols_from_same_row(spark):
    left = spark.createDataFrame([(1, _ts(30), "x")], "k INT, ts TIMESTAMP, tag STRING")
    right = spark.createDataFrame(
        [(1, _ts(10), 1.0, "old"), (1, _ts(20), None, "new")],
        "k INT, ts TIMESTAMP, v DOUBLE, label STRING",
    )
    row = asof_join(left, right, on="k", value_cols=("v", "label")).collect()[0]
    assert (row["v_right"], row["label_right"]) == (None, "new")


# ---------------------------------------------------------------------------
# pivot_event_types: empty (bucket, type) cells are 0, not NULL
# ---------------------------------------------------------------------------

def test_pivot_sparse_cells_are_zero(spark, tmp_path):
    from bytewax_iceberg_connector_spark.plans.relational import pivot_event_types

    # bucket 1 has only clicks; every other declared type must read 0
    spark.createDataFrame(
        [(1, "click"), (1, "click"), (2, "view")],
        "user_id BIGINT, event_type STRING",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = {r["user_bucket"]: r for r in pivot_event_types(spark, str(tmp_path)).collect()}
    assert rows[1]["n_click"] == 2
    assert rows[1]["n_purchase"] == 0 and rows[1]["n_view"] == 0
    assert rows[2]["n_view"] == 1 and rows[2]["n_click"] == 0


# ---------------------------------------------------------------------------
# salted_join: fact-preserving joins only
# ---------------------------------------------------------------------------

def test_salted_join_rejects_outer_dims(spark):
    facts = spark.createDataFrame([(1, "a")], "k INT, x STRING")
    dims = spark.createDataFrame([(1, "d")], "k INT, d STRING")
    for how in ("right", "rightouter", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(facts, dims, on="k", how=how)


def test_salted_join_left_outer_matches_plain(spark):
    facts = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k INT, x STRING"
    )
    dims = spark.createDataFrame([(1, "d1"), (2, "d2")], "k INT, d STRING")
    got = sorted(
        (r["k"], r["x"], r["d"])
        for r in salted_join(facts, dims, on="k", n_salts=4, how="left").collect()
    )
    want = sorted(
        (r["k"], r["x"], r["d"]) for r in facts.join(dims, "k", "left").collect()
    )
    assert got == want  # unmatched fact k=3 appears exactly once, with null


# ---------------------------------------------------------------------------
# stateful: TTL derives from the watermark param; key dtype from the schema
# ---------------------------------------------------------------------------

def test_duration_ms_parses_spark_intervals():
    assert duration_ms("2 hours") == 2 * 3600 * 1000
    assert duration_ms("30 minutes") == 30 * 60 * 1000
    assert duration_ms("1 day") == 86_400_000
    assert duration_ms("45 seconds") == 45_000
    with pytest.raises(ValueError):
        duration_ms("fortnight")


def test_dedup_first_seen_string_key_schema(spark, tmp_path):
    """Key dtype derives from the input schema — a string key column used
    to break against the hardcoded LongType output field."""
    src = tmp_path / "ev"
    spark.createDataFrame(
        [("click", _ts(5)), ("click", _ts(1)), ("view", _ts(2))],
        "event_type STRING, ts TIMESTAMP",
    ).write.parquet(str(src))
    stream = spark.readStream.schema("event_type STRING, ts TIMESTAMP").parquet(
        str(src)
    )
    out = dedup_first_seen(stream, key_col="event_type", ts_col="ts",
                           watermark="30 minutes")
    assert dict(out.dtypes)["event_type"] == "string"
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_strkey")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["event_type"]: r["first_ts"] for r in spark.table("dedup_strkey").collect()}
    assert got == {"click": _ts(1), "view": _ts(2)}


def test_asof_tolerance_drops_far_matches(spark):
    """pandas-style tolerance: a match farther than the bound nulls out;
    a within-bound match survives — both directions."""
    left = spark.createDataFrame(
        [(1, _ts(100)), (2, _ts(100))], "user_id INT, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [(1, _ts(95), 1.0),    # 5 s before -> within 10 s
         (2, _ts(30), 2.0)],   # 70 s before -> beyond
        "user_id INT, ts TIMESTAMP, value DOUBLE",
    )
    got = {
        r.user_id: r.value_right
        for r in asof_join(
            left, right, on="user_id", ts_col="ts", value_cols=["value"],
            tolerance_seconds=10,
        ).collect()
    }
    assert got == {1: 1.0, 2: None}


# ---------------------------------------------------------------------------
# round-5 ADVICE: NULL basket keys and NULL event_id window tie-breaks
# ---------------------------------------------------------------------------

import pyarrow as pa
import pyarrow.parquet as pq

from _diffutil import assert_df_match as _diff
from _diffutil import duck_oracle as _oracle


def _write_lineitem_pairs(tmp_path, rows):
    """rows: (l_orderkey, l_partkey) — the only columns copurchase touches."""
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    return str(tmp_path)


def _write_events6(tmp_path, rows):
    """rows: (event_id, ts_us, user_id, event_type, value, props)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )
    return str(tmp_path)


_US0 = 1_700_000_000_000_000


def test_copurchase_null_orderkey_forms_no_phantom_basket(spark, tmp_path):
    """Rows with NULL l_orderkey must not pool into one phantom basket:
    Spark's groupBy groups NULL keys together while the oracle's
    equi-self-join drops them — both engines must now drop them."""
    from bytewax_iceberg_connector_spark.plans import relational as R

    d = _write_lineitem_pairs(
        tmp_path,
        [
            (1, 10), (1, 20),          # real pair (10,20)
            (None, 30), (None, 40),    # phantom basket if NULLs pooled
            (2, 10), (2, 20),          # second order with same pair
        ],
    )
    sp = R.copurchase_affinity(spark, d).toPandas()
    _diff(sp, _oracle(tmp_path, R._SQL_AFFINITY))
    assert set(zip(sp["pa"], sp["pb"])) == {(10, 20)}


def test_ohlc_null_event_id_tie_matches_oracle(spark, tmp_path):
    """Tied ts with one NULL event_id: Spark's struct-min/max sorts the
    NULL field first (ASC NULLS FIRST / DESC NULLS LAST), which the
    oracle windows now pin explicitly."""
    from bytewax_iceberg_connector_spark.plans import temporal as T

    d = _write_events6(
        tmp_path,
        [
            (None, _US0, 1, "tick", 5.0, "{}"),   # tied ts, NULL id
            (7, _US0, 1, "tick", 9.0, "{}"),      # tied ts, real id
            (8, _US0 + 1_000_000, 1, "tick", 2.0, "{}"),
        ],
    )
    sp = T.ohlc_bars(spark, d).toPandas()
    _diff(sp, _oracle(tmp_path, T._SQL_OHLC))
    # open = NULL-id row (NULLS FIRST), close = latest ts row
    assert float(sp["open"].iloc[0]) == 5.0
    assert float(sp["close"].iloc[0]) == 2.0


def test_event_attribution_null_event_id_tie_matches_oracle(spark, tmp_path):
    """Two same-ts clicks where one has NULL event_id: the as-of
    tie-break (event_id DESC) must prefer the non-NULL id on both
    engines (DESC NULLS LAST pinned in the oracle)."""
    from bytewax_iceberg_connector_spark.plans import temporal as T

    d = _write_events6(
        tmp_path,
        [
            (None, _US0, 1, "click", 0.0, '{"k": 1}'),
            (5, _US0, 1, "click", 0.0, '{"k": 2}'),
            (9, _US0 + 5_000_000, 1, "purchase", 100.0, "{}"),
        ],
    )
    sp = T.event_attribution(spark, d).toPandas()
    _diff(sp, _oracle(tmp_path, T._SQL_ATTRIBUTION))
    assert list(sp["channel"]) == ["ch_2"]


def test_interarrival_null_event_id_tie_matches_oracle(spark, tmp_path):
    """Tied ts with a NULL event_id in the lag window: ASC NULLS FIRST
    (Spark default) now pinned in the oracle window."""
    from bytewax_iceberg_connector_spark.plans import profiling as P

    d = _write_events6(
        tmp_path,
        [
            (None, _US0, 1, "click", 1.0, "{}"),
            (2, _US0, 1, "click", 1.0, "{}"),
            (3, _US0 + 3_000_000, 1, "click", 1.0, "{}"),
            (4, _US0 + 9_000_000, 1, "click", 1.0, "{}"),
        ],
    )
    sp = P.interarrival_stats(spark, d).toPandas()
    _diff(sp, _oracle(tmp_path, P._SQL_INTERARRIVAL))


def test_event_transition_null_event_id_tie_matches_oracle(spark, tmp_path):
    """Tied ts with NULL event_id in the per-user transition order."""
    from bytewax_iceberg_connector_spark.plans import profiling as P

    d = _write_events6(
        tmp_path,
        [
            (None, _US0, 1, "view", 1.0, "{}"),
            (2, _US0, 1, "click", 1.0, "{}"),
            (3, _US0 + 1_000_000, 1, "purchase", 1.0, "{}"),
        ],
    )
    sp = P.event_transition_matrix(spark, d).toPandas()
    _diff(sp, _oracle(tmp_path, P._SQL_TRANSITION))


# ---------------------------------------------------------------------------
# r06 ADVICE: zero-commit read(with_spec_id=True) must carry _spec_id —
# same schema as the all-fileless fallback path inside _load_commit_dirs
# ---------------------------------------------------------------------------

def test_read_with_spec_id_on_zero_commit_table(spark, tmp_path):
    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    sink = LakeSink(
        spark,
        IcebergSinkConfig(
            table_name="db.empty_spec",
            warehouse_path=str(tmp_path),
        ),
    )
    sink.ensure_table(spark.createDataFrame([], "event_id BIGINT, v DOUBLE"))
    df = sink.read(with_spec_id=True)
    assert "_spec_id" in df.columns
    assert df.select("_spec_id").count() == 0  # no AnalysisException


# ---------------------------------------------------------------------------
# r06 ADVICE: commit markers record n_files at write time so reads filter
# fileless commits from metadata instead of walking every commit dir
# ---------------------------------------------------------------------------

def test_commit_marker_records_n_files(spark, tmp_path):
    import json as _json
    import os as _os

    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    sink = LakeSink(
        spark,
        IcebergSinkConfig(
            table_name="db.nfiles",
            warehouse_path=str(tmp_path),
            num_partitions=2,
            partition_spec=[("event_id", "identity")],
        ),
    )
    sink.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id INT, v DOUBLE"))
    # empty PARTITIONED append → genuinely fileless commit dir (no
    # partition subdirs written), n_files == 0 in its marker
    sink.append(spark.createDataFrame([], "event_id INT, v DOUBLE"))

    markers = []
    for root, _dirs, files in _os.walk(str(tmp_path)):
        if "_bic_spec.json" in files:
            with open(_os.path.join(root, "_bic_spec.json")) as f:
                markers.append(_json.load(f))
    n_by_commit = sorted(m.get("n_files") for m in markers)
    assert len(markers) == 2
    assert n_by_commit[0] == 0 and n_by_commit[1] >= 1
    # the fileless commit is filtered (from metadata) — read still works
    assert sink.read().count() == 2


# ---------------------------------------------------------------------------
# r06 ADVICE: sign_lsh_keys_np cache cap — a heavily ragged corpus (many
# distinct dims, i.e. a quarantine bypass) must not crash or grow the
# executor cache unboundedly, and keys stay deterministic per dim
# ---------------------------------------------------------------------------

def test_sign_lsh_keys_np_ragged_many_dims(spark):
    from bytewax_iceberg_connector_spark.functions.similarity import (
        sign_lsh_keys_np,
    )

    rows = []
    for d in range(2, 14):  # 12 distinct dims > the 8-entry cache cap
        vec = [float((i * 7 + d) % 5 - 2) for i in range(d)]
        rows.append((d * 2, vec))
        rows.append((d * 2 + 1, vec))  # duplicate vector, same dim
    df = spark.createDataFrame(rows, "id INT, e ARRAY<DOUBLE>")
    keys = sign_lsh_keys_np(4, n_tables=2, bits=4)
    out = df.select("id", keys(F.col("e")).alias("k")).collect()
    by_id = {r.id: r.k for r in out}
    for d in range(2, 14):
        assert by_id[d * 2] is not None
        # equal vectors at the same dim hash identically even past the cap
        assert by_id[d * 2] == by_id[d * 2 + 1]


def test_safe_ref_rejects_sql_hostile_branch_names():
    """r11 ADVICE (low): branch/tag names are interpolated into SQL on
    the iceberg backend (refs lookup, VERSION AS OF, CREATE/DROP
    TAG/BRANCH) — an embedded quote broke the statement and was an
    injection surface. The allowlist validator raises loudly instead."""
    from bytewax_iceberg_connector_spark.operators.iceberg_sink import (
        _safe_ref,
    )

    for ok in ("main", "audit", "release-1.2", "a_b.c", "2024", "X"):
        assert _safe_ref(ok) == ok
    for bad in (
        "au'dit", "a' OR '1'='1", 'a"b', "a`b", "a b", "", None,
        ".lead", "-lead", "a;DROP TABLE t", "日本語", "a\nb",
    ):
        with pytest.raises(ValueError, match="invalid branch/tag name"):
            _safe_ref(bad)
