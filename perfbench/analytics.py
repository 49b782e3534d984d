"""``analytics``: two fixed lists of registry queries over a seeded corpus,
each query forced end to end with the noop sink. The relational list is
Catalyst/JVM work (TPC-H and SQL shapes); the LLM list runs the text,
dedup and sketch functions of ``functions/``, the Misra-Gries token
sketch of ``heavy_hitters`` in Spark's Python workers. The lake write
path is absent, so this workload shows planner and kernel changes apart
from sink changes, and the two lists show a kernel gain apart from a
planner gain.

The lists are short because each query's first run costs 1.5-4x its later
runs, so every query added lengthens the untimed warm-up as well as the
window. A window is a fixed number of passes over both lists: five at
``--seconds 10`` (35 queries; the nearest-rank median is the middle
sample of the fourth fastest query, the tail at p71 the slowest sample
of the fifth, where it meets the sixth), never fewer than three (21
queries, the fewest the tail rule accepts). Four passes put the median
on the second of four samples, which spread 0.26 over ten seeds on a
shared 4-vCPU host against 0.18 for the query's own median.

The warm-up pass collects every query's result and checks it against the
query's ``oracle_sql()`` on DuckDB over the same parquet files; a second,
untimed pass runs the queries as the window does. The measured window
then alternates one pass over each list; one op is one query (plan build
plus execution).
"""

from __future__ import annotations

import math
import time
from collections import Counter

from perfbench import gen, harness
from perfbench.harness import Outcome, Window

#: corpus scale factor; lineitem holds about 6_000_000 * SF rows
SF = 0.02
RELATIONAL = ("pricing_summary", "sql_shipping_priority",
              "scan_project_filter")
#: ``heavy_hitters`` carries the Python-worker kernel rather than
#: ``dedup_near_ngram``: 0.85 s a run on 4 cores (3.5 s cold) against
#: 2.2 s (8 s cold) keeps the run inside the time budget
LLM = ("heavy_hitters", "text_analysis", "doc_fingerprint", "dedup_exact")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: passes over both lists per second of ``--seconds``
PASSES_PER_S = 0.5
MIN_PASSES = 3


def _queries() -> tuple[dict, dict]:
    from bytewax_iceberg_connector_spark.plans import llm, relational

    fns = {**relational.QUERIES, **llm.QUERIES}
    oracles = {**relational.ORACLE, **llm.ORACLE}
    return ({n: fns[n] for n in (*RELATIONAL, *LLM)},
            {n: oracles[n] for n in (*RELATIONAL, *LLM) if n in oracles})


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        digits = 9 - int(math.floor(math.log10(abs(v)))) if abs(v) > 1 else 9
        return round(v, digits)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _multiset(cols: list[str], rows: list) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def oracle_mismatch(con, sql: str, cols: list[str], rows: list) -> str | None:
    """Compare a collected Spark result with DuckDB's answer: column names,
    row count and the order-insensitive multiset of rounded values."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if _multiset(cols, rows) != _multiset(dcols, drows):
        return "values differ from the oracle"
    return None


def check_oracles(sf_dir: str, results: dict, oracles: dict,
                  outcome: Outcome) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        for name, (cols, rows) in results.items():
            if name not in oracles:
                outcome.errors.append(f"{name}: no oracle to check against")
                continue
            problem = oracle_mismatch(con, oracles[name], cols, rows)
            if problem:
                outcome.errors.append(f"{name}: {problem}")
    finally:
        con.close()


class Jobs:
    """Jobs and tasks of one query, counted through its job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    def group(self, name: str) -> str:
        self.n += 1
        group = f"perfbench-{name}-{self.n}"
        self.sc.setJobGroup(group, name)
        return group

    def count(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks


def run_query(ctx, fn, name: str, sf_dir: str, kind: str,
              jobs: Jobs | None, window: Window) -> float:
    group = jobs.group(name) if jobs else None
    ctx.begin_op()
    t0 = time.perf_counter()
    with ctx.span(f"plans.build.{kind}"):
        df = fn(ctx.spark, sf_dir)
    t1 = time.perf_counter()
    with ctx.span(f"plans.execute.{kind}"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if jobs:
        n_jobs, n_tasks = jobs.count(group)
        window.extra.setdefault(f"jobs.{kind}", []).append(n_jobs)
        window.extra.setdefault(f"tasks.{kind}", []).append(n_tasks)
    window.extra.setdefault(f"build.{kind}", []).append(t1 - t0)
    window.extra.setdefault(f"execute.{kind}", []).append(t2 - t1)
    return t2 - t0


def measure(ctx, sf_dir: str, fns: dict, passes: int,
            outcome: Outcome) -> Window:
    w = Window(extra={"passes": {"relational": [], "llm": []}})
    jobs = Jobs(ctx.spark) if ctx.tracer is not None else None
    for _ in range(passes):
        for kind, names in (("relational", RELATIONAL), ("llm", LLM)):
            pass_s = 0.0
            for name in names:
                outcome.attempted += 1
                try:
                    dt = run_query(ctx, fns[name], name, sf_dir, kind, jobs, w)
                except Exception as exc:  # noqa: BLE001 - counted
                    outcome.failed += 1
                    outcome.detail.setdefault("op_errors", []).append(
                        f"{name}: {exc!r}"[:300])
                    continue
                w.samples.append((kind, dt))
                w.busy_s += dt
                w.extra.setdefault("query_s", {}).setdefault(name, []).append(dt)
                pass_s += dt
            w.extra["passes"][kind].append(pass_s)
    if jobs:
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return w


def run(ctx) -> Outcome:
    fns, oracles = _queries()

    def build(rep: int) -> str:
        sf_dir = ctx.path(f"corpus{rep}")
        gen.write_corpus(ctx.seed, SF, sf_dir)
        return sf_dir

    outcome = Outcome()
    sf_dir = ctx.setups(build)
    phase = harness.Phases(outcome)
    # warm-up pass: collect each result for the oracle check
    results = {}
    for name in (*RELATIONAL, *LLM):
        try:
            df = fns[name](ctx.spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - a failed check, not a crash
            outcome.errors.append(f"{name}: warm-up failed: {exc!r}"[:300])
    # one more untimed pass the way the window runs its queries: the
    # first noop-forced pass still ran 1.2-1.5x slower than the later ones
    measure(ctx, sf_dir, fns, 1, Outcome())
    phase("warm")
    outcome.windows = ctx.windows(
        lambda passes: measure(ctx, sf_dir, fns, passes, outcome),
        PASSES_PER_S, MIN_PASSES,
    )
    phase("measure")
    check_oracles(sf_dir, results, oracles, outcome)
    phase("check")

    main = outcome.windows[-1]
    passes = main.extra["passes"]
    outcome.detail.update({
        "op": "one registry query, plan build plus noop-forced execution",
        "sf": SF,
        "queries": {"relational": list(RELATIONAL), "llm": list(LLM)},
        "relational_s": harness.p50(passes["relational"]),
        "llm_s": harness.p50(passes["llm"]),
        "passes": len(passes["relational"]),
        "query_s": main.extra.get("query_s", {}),
    })
    if ctx.tracer is not None:
        outcome.layers = layers(ctx, outcome)
    return outcome


def layers(ctx, outcome: Outcome) -> dict[str, tuple[float, str]]:
    tracer = ctx.tracer
    traced = outcome.windows[-1]
    x = traced.extra
    n_queries = len(traced.samples)
    loads = harness.top_level(tracer, "sources.load")
    out = {
        "sources.load_s": (harness.ratio(sum(loads), n_queries), "s"),
        "sources.load_calls": (harness.ratio(len(loads), n_queries), "count"),
    }
    for kind in ("relational", "llm"):
        out[f"plans.build_s.{kind}"] = (harness.p50(x.get(f"build.{kind}", [])), "s")
        out[f"plans.execute_s.{kind}"] = (
            harness.p50(x.get(f"execute.{kind}", [])), "s")
        for what in ("jobs", "tasks"):
            vals = x.get(f"{what}.{kind}", [])
            out[f"plans.{what}_per_query.{kind}"] = (
                harness.ratio(sum(vals), len(vals)), "count")
    return out
