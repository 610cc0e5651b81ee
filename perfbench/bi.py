"""``bi_queries``: the read side of the warehouse.

One closed-loop client issues the 18 BI queries in a seed-permuted order,
collecting every result to the driver and checking it against the
query's DuckDB oracle on the same generated tables. The tables are the
same for every seed (a fixed data seed, like the daily workload's base
history), so runs differ only in the order. Persisted RDDs are
released between queries, outside the timed region. Passes run back to
back while another whole one fits in ``--seconds`` (at least one).

Traced runs then run the corpus-curation chain (strip/quality/exact-dedup
curation, MinHash near-dup candidates, training-shard export), oracle
checked the same way, and probe the dedup operators stage by stage.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext
from decimal import Decimal, InvalidOperation

import gen
from run import Measurement
from tracing import Tracer, jobs_between, summarize

PYTHON_POOLS = True  # sessionize_events runs an applyInPandas stage
BI_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q17_small_quantity_revenue", "q18_large_volume_orders", "weekly_revenue",
    "cohort_retention_weekly", "cumulative_customer_revenue", "latest_order_per_customer",
    "customers_without_orders", "grouping_sets_revenue", "cube_order_stats", "rollup_returns",
    "trailing_window_revenue", "funnel_conversion", "sessionize_events", "lateral_top_orders",
    "orders_with_heavy_items",
)
TABLES_READ = ("customer", "orders", "lineitem", "part", "supplier", "nation", "region",
               "events", "documents")
CHAIN = ("curated_corpus", "minhash_dedup_candidates", "training_shard_export")
# the per-layer metrics only this workload's traced runs produce
LAYERS = ("bi_refresh_s", "bi_query_p50_s", "bi_query_tail_s", "curation_s", "plans.",
          "curation.", "dedup.", "shards.")
TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)
ORACLE_FILE = "oracle-rows.json"


def _canon():
    """The correctness gate's canonical form, imported from tools/."""
    from run import ROOT

    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import frame_to_canon

    return frame_to_canon


def canonical(cols, rows) -> tuple[list, list]:
    c, v = _canon()(list(cols), [tuple(r) for r in rows])
    return list(c), [list(r) for r in v]


# How close the oracle's unrounded value must lie to the half-unit boundary
# between two results for their difference to count as a rounding tie:
# well above the error of a double-precision sum over the generated
# tables, well below the distance of any other exact sum from the boundary.
TIE_TOLERANCE = 1e-12


def _rounding_tie(a: str, b: str, unrounded: list[float]) -> bool:
    """Two canonical numbers one unit apart in their last digit, where the
    oracle's own unrounded value (``unrounded``, sorted) lies on the
    half-unit boundary between them. An exact sum on that boundary (x.xx5),
    added up in double precision in a different order by each engine,
    rounds to either side; any other one-unit difference is a wrong result."""
    try:
        da, db = Decimal(a), Decimal(b)
    except InvalidOperation:
        return False
    if not (da.is_finite() and db.is_finite()):
        return False
    unit = Decimal(1).scaleb(min(da.as_tuple().exponent, db.as_tuple().exponent))
    if abs(da - db) != unit:
        return False
    mid = float((da + db) / 2)
    i = bisect.bisect_left(unrounded, mid)
    near = unrounded[max(0, i - 1):i + 1]
    return any(abs(u - mid) <= TIE_TOLERANCE * max(1.0, abs(u)) for u in near)


def compare(cols, rows, want: dict, unrounded=dict) -> tuple[bool, int]:
    """(matches, rounding ties): the result equals the oracle's in the
    correctness gate's canonical form, except for values on a rounding tie.
    ``unrounded()`` gives the oracle's unrounded columns, asked for only
    when a value differs."""
    c, v = canonical(cols, rows)
    if c != want["cols"] or len(v) != len(want["rows"]):
        return False, 0
    evidence = None
    ties = 0
    for got, exp in zip(v, want["rows"]):
        for col, x, y in zip(c, got, exp):
            if x != y:
                if evidence is None:
                    evidence = unrounded()
                if not _rounding_tie(x, y, evidence.get(col, [])):
                    return False, ties
                ties += 1
    return True, ties


def _connect(data_dir: str):
    import duckdb
    from shopify_etl_spark.plans.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def unrounded_columns(data_dir: str, sql: str) -> dict[str, list[float]]:
    """The oracle's float columns with every ``round(x, n)`` made the
    identity, sorted: the evidence ``_rounding_tie`` asks for."""
    con = _connect(data_dir)
    con.execute("CREATE TEMP MACRO round(x, n) AS x")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    out = {}
    for j, col in enumerate(cols):
        vals = [r[j] for r in rows if isinstance(r[j], float) and math.isfinite(r[j])]
        if vals:
            out[col] = sorted(vals)
    con.close()
    return out


def oracle_results(data_dir: str, names) -> dict:
    """DuckDB oracle result per query in canonical form, cached beside the
    generated tables."""
    path = os.path.join(data_dir, ORACLE_FILE)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from shopify_etl_spark.plans import QUERIES

    con = _connect(data_dir)
    out = {}
    for name in names:
        cur = con.execute(QUERIES[name].oracle)
        cols, rows = canonical([d[0] for d in cur.description], cur.fetchall())
        out[name] = {"cols": cols, "rows": rows}
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least ten
    samples beyond it, or p75 when a run holds fewer than 20 samples."""
    n = len(values)
    q = next((q for q in TAIL_LADDER if n * (1 - q) >= 10), 0.75)
    return q, quantile(values, q)


class State:
    """The tables, their oracle results and the seed's query order."""

    def __init__(self, ctx):
        t0 = time.perf_counter()
        self.data = gen.catalog_dir(ctx.cache)
        self.expected = oracle_results(self.data, BI_QUERIES + CHAIN)
        self.gen_s = time.perf_counter() - t0
        self.order = list(BI_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.passes: list[tuple[dict, float]] = []  # (latency per query, planning s)
        self.rows: dict[str, int] = {}  # rows each query returned


def inputs(ctx) -> State:
    return State(ctx)


def prepare(ctx, st: State) -> None:
    """Load every table the queries read through the program's own loader,
    down to its schema."""
    from shopify_etl_spark.plans.catalog import load_table

    for t in TABLES_READ:
        load_table(ctx.spark, st.data, t).schema


def measure(ctx, st: State, tracer: Tracer | None = None) -> Measurement:
    m = Measurement()
    t_loop = time.perf_counter()
    while True:
        lat, plan_s, cpu = {}, 0.0, 0.0
        w0 = time.time()
        for name in st.order:
            lat[name], planned, used = run_checked(ctx, st, m, name, tracer, "plans.")
            plan_s += planned
            cpu += used
        dt = sum(lat.values())
        m.add(dt, cpu, (w0, time.time()))
        st.passes.append((lat, plan_s))
        if time.perf_counter() - t_loop + dt > ctx.seconds:
            break
    q, v = tail(_bi(st))
    m.notes += [
        f"bi_queries seed={ctx.seed}: {len(m.iters)} pass(es) {[round(x, 3) for x in m.iters]}"
        f" cpu_s={[round(x, 2) for x in m.cpu]} gen_s={st.gen_s:.2f}",
        f"bi_query latency: p50={statistics.median(_bi(st)):.3f}s tail=p{round(q * 100)}"
        f" {v:.3f}s n={len(_bi(st))}",
    ]
    return m


def run_checked(ctx, st: State, m: Measurement, name: str, tracer: Tracer | None,
                kind: str) -> tuple[float, float, float]:
    """Run one catalog query, collect it and check it against its oracle.
    Returns (latency, driver-side planning seconds (traced runs only), CPU
    seconds of the run's processes from building the plan to the collected
    rows)."""
    from shopify_etl_spark.plans import QUERIES

    latency, planned, cpu, ok = 0.0, 0.0, 0.0, False
    try:
        with tracer.span(kind + name) if tracer else nullcontext():
            c0 = ctx.cpu_seconds()
            s0 = time.perf_counter()
            sdf = QUERIES[name].builder(ctx.spark, st.data)
            if tracer:
                sdf._jdf.queryExecution().executedPlan()
                planned = time.perf_counter() - s0
            rows = sdf.collect()
            latency = time.perf_counter() - s0
            st.rows[name] = len(rows)
            cpu = ctx.cpu_seconds() - c0
        ok, ties = compare(sdf.columns, rows, st.expected[name],
                           lambda: unrounded_columns(st.data, QUERIES[name].oracle))
        if not ok:
            m.problems.append(f"{name}: result differs from the DuckDB oracle")
        elif ties:
            m.notes.append(f"{name}: {ties} value(s) one unit apart from the oracle's in the"
                           " last digit, on a rounding tie")
    except Exception as e:  # noqa: BLE001 - counted, reported below
        m.problems.append(f"{name}: {e!r}"[:300])
    m.count(1, 0 if ok else 1)
    ctx.release_persisted()
    return latency, planned, cpu


def _bi(st: State) -> list[float]:
    return [lat[q] for lat, _ in st.passes for q in BI_QUERIES if q in lat] or [0.0]


def install_spans(hooks, tracer: Tracer) -> None:
    """Catalog queries get their spans from ``run_checked``."""


def probe(ctx, st: State, tracer: Tracer, m: Measurement) -> dict:
    """The curation chain, oracle-checked, then benchmark-side calls into
    ``operators.dedup``, one stage at a time, each stage's input
    materialized beforehand so the span holds only it."""
    from shopify_etl_spark.operators import dedup
    from shopify_etl_spark.plans.catalog import load_table

    spark = ctx.spark
    chain = {q: run_checked(ctx, st, m, q, tracer, "chain.")[0] for q in CHAIN}
    out = {
        "curation_s": sum(chain.values()),
        "curation.curate_corpus_s": chain["curated_corpus"],
        "shards.export_s": chain["training_shard_export"],
    }
    docs = load_table(spark, st.data, "documents")

    def timed(name, fn):
        with tracer.span(f"probe.dedup.{name}") as sp:
            result = fn()
        ctx.release_persisted()
        out[f"dedup.{name}_s"] = sp.end - sp.start
        return result

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    timed("shingle_postings", lambda: noop(dedup.shingle_postings(docs)))
    pairs = timed("jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect())
    timed("minhash", lambda: noop(dedup.minhash_signatures(docs)))
    # the LSH candidates are the rows of the chain's minhash_dedup_candidates
    candidates = st.rows.get("minhash_dedup_candidates", 0)
    pair_df = spark.createDataFrame([(int(r["d1"]), int(r["d2"])) for r in pairs],
                                    "d1 long, d2 long")

    def clusters():
        df = dedup.duplicate_clusters(pair_df)
        return df.schema, df.collect()

    schema, rows = timed("clusters", clusters)
    cluster_df = spark.createDataFrame([tuple(r) for r in rows], schema)
    timed("apply", lambda: noop(dedup.apply_dedup(docs, cluster_df)))
    out["dedup.candidate_pairs"] = candidates
    out["dedup.kept_pairs"] = len(pairs)
    out["dedup.pair_yield"] = len(pairs) / candidates if candidates else 0.0
    return out


def layers(st: State, m: Measurement, tracer: Tracer, jobs) -> dict:
    """Per-query latencies of the last pass and the BI queries' jobs."""
    lat, plan_s = st.passes[-1]
    pj = summarize([j for j in jobs_between(jobs, *m.windows[-1])
                    if j.span.startswith("plans.")])
    bi = _bi(st)
    return {
        **{f"plans.{q}_s": lat.get(q, 0.0) for q in BI_QUERIES},
        "bi_refresh_s": sum(lat.get(q, 0.0) for q in BI_QUERIES),
        "bi_query_p50_s": statistics.median(bi),
        "bi_query_tail_s": tail(bi)[1],
        "plans.plan_s": plan_s,
        "plans.scan_mb": pj["input_mb"],
        "plans.shuffle_mb": pj["shuffle_mb"],
        "plans.jobs": pj["jobs"],
    }
