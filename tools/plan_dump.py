"""Dump formatted physical plans of the headline queries → PLANS.md.

The artifact the scale review reads: for each representative query, the
`.explain("formatted")` output plus the one-line claim of why this is the
plan you'd want on a 1000-executor cluster. Regenerate after plan-shape
changes: ``python tools/plan_dump.py``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"

#: (query name, the scale claim the plan must exhibit)
SHOWCASE = [
    ("scan_project_filter",
     "filters + projection reach the parquet scan (PushedFilters / pruned ReadSchema)"),
    ("pricing_summary",
     "partial (map-side) aggregation before one exchange on the 6-group key"),
    ("join_inner_multi",
     "dims broadcast (no shuffle for nation/region); fact-fact joins shuffle on keys"),
    ("asof_join_events",
     "as-of join = ONE hash exchange + one window; no range-candidate blow-up"),
    ("dedup_minhash_lsh",
     "band shuffle ships 8-byte keys only; arrays fetched post-dedup"),
    ("exists_subquery",
     "EXISTS decorrelated to a left-semi join by Catalyst"),
    ("streaming_tumbling",
     "epoch-aligned window aggregation, partial-agg before the exchange"),
    ("similarity_ivf",
     "ONE assignment GEMM; candidate shuffle ships (id, cell) rows only; "
     "vectors re-join after dedup"),
    ("contamination_check",
     "benchmark shingle set broadcast — corpus side never shuffles for the join"),
    ("streaming_interval_join",
     "equi-key + time-band stream-stream join: one exchange per side, "
     "state bounded by watermark + interval"),
    ("token_budget_cap",
     "per-(lang,source) window: partition-local sort on the admission hash, "
     "no global sort"),
    ("curation_pipeline",
     "quality gate at scan speed below the dedup window; one shuffle for "
     "the fingerprint window, one for the embedding join — no "
     "materialization between stages"),
    ("event_funnel",
     "four sequentially-dependent stage windows share ONE hash exchange "
     "on user_id; global funnel row from a partial-agged SinglePartition"),
    ("keyword_extract",
     "word-count partial agg; vocabulary-sized df table broadcast back — "
     "the tf table never re-shuffles on term"),
    ("heavy_hitters",
     "Misra–Gries candidates as the JVM freqItems aggregate (partial per "
     "task, one merge) → broadcast left-semi join on the token scan → "
     "count shuffle carries only candidate keys; one plan, no build-time job"),
    ("gapfill_locf",
     "dense grid generated (sequence/explode), never stored; LOCF is one "
     "running window on the same user_id lineage"),
    ("similarity_ivf_pq",
     "candidate shuffle ships 4-bit PQ codes + norm (~16 B), never float "
     "vectors; exact arrays appear only at the scan and the bounded "
     "refine join"),
    ("bm25_rank",
     "tf pruned to the query's terms below every join; df/doc-length/"
     "corpus stats all broadcast — scored frame is |terms|x|hits|"),
    ("decayed_counts",
     "exact dyadic decay weights as a codegen projection; ONE narrow "
     "event_type exchange with map-side partial sums"),
    ("domain_mix_weights",
     "corpus scan -> word-count partial agg; share arithmetic on a "
     "sources-sized frame (broadcast-scale at any corpus size)"),
    ("sql_disjunctive_revenue",
     "OR-of-conjunctions straddling the join: Catalyst derives per-side "
     "implied filters (brand set to part scan, quantity envelope to "
     "lineitem) while the full residual stays on the joined rows"),
    ("sql_market_share",
     "8-relation graph (nation aliased twice): every dim broadcasts, the "
     "ECONOMY filter prunes part BEFORE the join, exact-decimal ratio"),
    ("dsir_importance",
     "target and raw LMs are two aggregates of ONE token pass; the "
     "vocabulary-sized ratio table broadcasts back — no second corpus "
     "scan, no term re-shuffle"),
    ("shard_shuffle_manifest",
     "seeded shuffle key is a codegen md5 projection (no UDF, no RNG "
     "state); ONE narrow exchange to shards; manifest is shards-sized"),
    ("char_entropy",
     "27-char entropy score is pure codegen'd scalar expressions — no "
     "explode, no UDF, zero shuffle before the per-lang rollup: scoring "
     "rides the scan"),
    ("ks_drift",
     "events compress to <=~500 bin rows via ONE partial-aggregated "
     "exchange; cumulative sums AND grand totals share the single-"
     "partition window stage — one file scan, no join, no global sort "
     "of raw values"),
    ("scd2_history",
     "lag flag, run-id running sum, and lead(valid_to) all ride ONE "
     "hashpartitioning(user_id) exchange (Catalyst reuses the "
     "distribution); final state rollup has map-side partials"),
    ("embedding_centroids",
     "posexplode ships 16-byte (label, dim, micro) triples into ONE "
     "partial-aggregated exchange — the distributed k-means update "
     "shape, bit-exact under any partitioning"),
    ("skew_salted_join",
     "hot 5-value key spreads over 8 salts (deterministic content hash, "
     "no rand); dim replicates 8x — the shuffle is skew-free and the "
     "result is row-identical to the unsalted join"),
    ("table_profile",
     "exact-distinct Expand isolated in its own aggregate; plain "
     "min/max/count measures keep whole-stage codegen (~3x faster than "
     "the fused plan) and meet in a 1-row crossJoin"),
    ("fk_integrity",
     "every child/parent scan prunes to its single KEY column; orphan "
     "probes are LEFT ANTI joins — payloads never move"),
    ("ohlc_bars",
     "open/close via struct-min/max: a pure map-side-combinable "
     "aggregate, NO window operator — partial candles merge exactly"),
    ("time_weighted_avg",
     "trapezoid lag rides ONE (user, type) exchange; per-stream reduce "
     "reuses that partitioning, all math exact bigint"),
    ("cooccurrence_pmi",
     "pair space capped by the vocab cut: JVM-side array fan-out from "
     "per-doc member sets (no self-join), membership on ONE doc_id "
     "exchange, V-sized broadcasts back"),
    ("sql_min_cost_supplier",
     "TPC-H Q2's correlated min-cost subquery decorrelated by Catalyst "
     "into a per-part min join over the SAME region-filtered pair "
     "slice; size/region predicates pushed to every scan; LIMIT 100 is "
     "a TakeOrdered — no global sort materializes"),
    ("grouping_cube",
     "CUBE = one Expand + one aggregate exchange; the standard () "
     "grand-total row is rebuilt from the detail rows of that SAME "
     "exchange (AQE reuse — no second fact scan), so a 0-row input "
     "still yields the standard total row"),
]


def main() -> None:
    import __spark_entry__ as e
    from bytewax_iceberg_connector_spark.session import get_spark

    spark = get_spark(app_name="plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    qs = e.queries()

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `tools/plan_dump.py` (sf0.01, AQE on). Each plan is",
        "followed by the scale property it must exhibit; "
        "`tests/test_plan_quality.py` enforces these shapes in CI.",
        "",
    ]
    for name, claim in SHOWCASE:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"**Scale property:** {claim}", "", "```",
                buf.getvalue().rstrip(), "```", ""]

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
