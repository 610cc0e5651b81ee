"""``daily_incremental``: the paper's daily job, ``pipeline.runner.run_daily``.

Each iteration restores the base warehouse and run log from a snapshot
(untimed), then times one ``run_daily`` over the seed's two-store batch:
order and product envelopes (one multiLine parse task per file) and the
full customer exports through the bulk-operation path, as the
reference's Dec-4 run did. The merge upserts into and delete+reloads the
existing orders pair, commits it through the manifest store and appends
to the run log. One closed-loop client; iterations run back to back
while another whole one fits in ``--seconds`` (at least one).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
from run import Measurement
from tracing import Tracer, jobs_between, summarize

PYTHON_POOLS = False  # run_daily starts no Python workers
STORES = ("retail", "wholesale")
# the per-layer metrics only this workload's traced runs produce
LAYERS = ("daily_run_s", "wh_bytes_per_raw_byte", "sources.", "flatten.", "runner.",
          "watermark.", "txn_store.", "merge.")
SNAPSHOT_DATE = "2025-11-29"
CHECKED_TABLES = (  # table, merge keys, meta field with the expected row count
    ("fact_orders", ["order_id"], "orders"),
    ("fact_order_items", ["order_id", "line_item_id"], "items"),
    ("dim_customers", ["customer_id"], "customers"),
    ("dim_products", ["product_id"], "products"),
    ("dim_product_variants", ["variant_id"], "variants"),
    ("fact_current_inventory", ["sku"], None),
    ("inventory_snapshot", ["sku", "snapshot_date"], None),
)


class JsonlTransport:
    """Bulk-operation transport serving a pre-generated JSONL export: the
    operation completes on the first poll and downloads in 1 MiB chunks."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self.lines = sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))

    def submit(self, entity: str) -> str:
        return f"gid://shopify/BulkOperation/{entity}"

    def poll(self, op_id: str) -> dict:
        return {"status": "COMPLETED", "objectCount": self.lines, "url": self.path}

    def download(self, url: str):
        with open(url, "rb") as f:
            yield from iter(lambda: f.read(1 << 20), b"")


def pipeline_config(raw_dir: str, wh: str, runlog: str, snapshot_date: str):
    from shopify_etl_spark.pipeline.runner import PipelineConfig

    return PipelineConfig(
        raw_paths={f"{s}_{e}": f"{raw_dir}/{s}/{e}.json" for s in STORES
                   for e in ("orders", "products")},
        bulk_transports={f"{s}_customers": JsonlTransport(f"{raw_dir}/{s}/customers.jsonl")
                         for s in STORES},
        bulk_poll_interval_s=0.0,
        warehouse_dir=wh,
        run_log_dir=runlog,
        snapshot_date=snapshot_date,
    )


def outcome(res: dict) -> tuple[int, int]:
    """(attempted, failed) staging and merge operations of one run."""
    ops = list(res.get("staging", {}).values()) + list(res.get("merge", {}).values())
    expected = len(STORES) * 3 + 3  # store x entity staging tasks + entity merges
    failed = sum(1 for ok in ops if not ok) + max(0, expected - len(ops))
    return max(expected, len(ops)), failed


def program_fingerprint(root: str) -> str:
    h = hashlib.sha1()
    for path in sorted(glob.glob(f"{root}/shopify_etl_spark/**/*.py", recursive=True)):
        h.update(path[len(root):].encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _snapshot_dir(ctx) -> str:
    return os.path.join(ctx.cache, f"warehouse-{gen.BASE_SEED}-{program_fingerprint(ctx.root)}")


def built(ctx) -> bool:
    return os.path.isdir(_snapshot_dir(ctx))


def build(ctx) -> None:
    """Load the base history into a warehouse with the program itself, once
    per checkout and program version, and keep it as the snapshot every
    run restores."""
    from shopify_etl_spark.pipeline.runner import run_daily

    base_dir = gen.base_dir(ctx.cache)
    ctx.start_session()

    def load(tmp: str) -> None:
        cfg = pipeline_config(base_dir, f"{tmp}/wh", f"{tmp}/runlog", "2025-11-28")
        res = run_daily(ctx.spark, cfg)
        if outcome(res)[1]:
            raise RuntimeError(f"base warehouse load failed: {res}")

    gen._publish(_snapshot_dir(ctx), load)


def restore(snapshot: str, wh: str, runlog: str) -> None:
    for src, dst in ((f"{snapshot}/wh", wh), (f"{snapshot}/runlog", runlog)):
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)


def check_warehouse(spark, wh: str, meta: dict) -> list[str]:
    """Duplicate keys and row counts of every merged table, in one job:
    each table contributes (table, 64-bit hash of its merge key)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from shopify_etl_spark.pipeline.runner import read_warehouse_table

    problems, keyed = [], []
    for table, keys, _field in CHECKED_TABLES:
        df = read_warehouse_table(spark, wh, table)
        if df is None:
            problems.append(f"{table}: missing")
        else:
            keyed.append(df.select(F.lit(table).alias("t"), F.xxhash64(*keys).alias("k")))
    counts = {} if not keyed else {
        r["t"]: (r["n"], r["d"]) for r in reduce(DataFrame.unionByName, keyed)
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.count_distinct("k").alias("d"))
        .collect()
    }
    for table, _keys, field in CHECKED_TABLES:
        if table not in counts:
            if not any(p.startswith(f"{table}:") for p in problems):
                problems.append(f"{table}: empty")
            continue
        n, distinct = counts[table]
        found = []  # every finding for the table, counted as one failed check
        if n != distinct:
            found.append(f"{n - distinct} duplicate keys")
        if field is not None:
            want = sum(meta["stores"][s][field] for s in STORES)
            if n != want:
                found.append(f"{n} rows, generator implies {want}")
        if found:
            problems.append(f"{table}: " + "; ".join(found))
    return problems


def parquet_rows(path: str) -> int:
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class State:
    """The seed's inputs and this run's warehouse directories."""

    def __init__(self, ctx):
        t0 = time.perf_counter()
        self.base_dir, self.batch_dir = gen.shopify_dirs(ctx.cache, ctx.seed)
        self.gen_s = time.perf_counter() - t0
        with open(f"{self.batch_dir}/meta.json") as f:
            self.meta = json.load(f)
        with open(f"{self.base_dir}/meta.json") as f:
            self.raw_bytes = self.meta["raw_bytes"] + json.load(f)["raw_bytes"]
        self.snapshot = _snapshot_dir(ctx)
        self.wh, self.runlog = f"{ctx.tmp}/wh", f"{ctx.tmp}/runlog"


def inputs(ctx) -> State:
    return State(ctx)


def prepare(ctx, st: State) -> None:
    restore(st.snapshot, st.wh, st.runlog)


def measure(ctx, st: State, tracer: Tracer | None = None) -> Measurement:
    """Timed iterations, then the warehouse checks. Traced runs get their
    spans from ``install_spans``."""
    from shopify_etl_spark.pipeline.runner import run_daily

    cfg = pipeline_config(st.batch_dir, st.wh, st.runlog, SNAPSHOT_DATE)
    m = Measurement()
    t_loop = time.perf_counter()
    while True:
        restore(st.snapshot, st.wh, st.runlog)
        w0, c0, s0 = time.time(), ctx.cpu_seconds(), time.perf_counter()
        try:
            res = run_daily(ctx.spark, cfg)
        except Exception as e:  # noqa: BLE001 - counted, reported below
            res = {"staging": {}, "merge": {}, "exception": repr(e)}
        dt = time.perf_counter() - s0
        m.add(dt, ctx.cpu_seconds() - c0, (w0, time.time()))
        a, fl = outcome(res)
        m.count(a, fl)
        if fl:
            m.problems.append(json.dumps(res, default=str)[:500])
        if time.perf_counter() - t_loop + dt > ctx.seconds:
            break
    problems = check_warehouse(ctx.spark, st.wh, st.meta)
    m.count(len(CHECKED_TABLES), len(problems))
    m.problems += problems
    st.wh_bytes = gen.dir_bytes(st.wh)
    m.notes.append(
        f"daily_incremental seed={ctx.seed}: {len(m.iters)} run(s)"
        f" {[round(x, 3) for x in m.iters]} cpu_s={[round(x, 2) for x in m.cpu]}"
        f" gen_s={st.gen_s:.2f} wh_mb={st.wh_bytes / 2**20:.1f}"
        f" raw_mb={st.raw_bytes / 2**20:.1f}")
    return m


def install_spans(hooks, tracer: Tracer) -> None:
    from shopify_etl_spark.pipeline import runner, txn_store, watermark
    from shopify_etl_spark.sources import bulk

    for owner, attr, name in (
        (runner, "_stage_one", "runner.stage"),
        (runner, "_merge_entity", "runner.merge"),
        (runner, "atomic_overwrite", "runner.atomic_overwrite"),
        (bulk, "run_bulk_operation", "sources.bulk_download"),
        (watermark.RunLog, "_append", "watermark.append"),
        (txn_store.PairStore, "commit", "txn_store.commit"),
    ):
        hooks.enter_context(tracer.wrap(owner, attr, name))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_span(tracer: Tracer, name: str, fn) -> float:
    with tracer.span(name) as sp:
        fn()
    return sp.end - sp.start


def probe(ctx, st: State, tracer: Tracer, m: Measurement) -> dict:
    """Benchmark-side calls into each layer's public functions on the
    inputs and staging tables the timed run left behind."""
    from shopify_etl_spark.operators import flatten, merge
    from shopify_etl_spark.pipeline.runner import read_warehouse_table
    from shopify_etl_spark.pipeline.watermark import RunLog
    from shopify_etl_spark.schemas import project_declared
    from shopify_etl_spark.sources import read_envelope, read_jsonl

    spark, wh = ctx.spark, st.wh
    out = {}
    out["watermark.last_watermark_s"] = _timed_span(
        tracer, "probe.last_watermark",
        lambda: RunLog(spark, st.runlog).last_watermark("retail", "orders"))
    parse, flat = 0.0, 0.0
    outputs = {
        "orders": [lambda n, s: flatten.flatten_orders(n, s),
                   lambda n, s: flatten.explode_order_items(n, s)],
        "products": [lambda n, s: flatten.flatten_products(n),
                     lambda n, s: flatten.explode_variants(n),
                     lambda n, s: flatten.inventory_from_products(n, s)],
    }
    for store in STORES:
        for entity, fns in outputs.items():
            path = f"{st.batch_dir}/{store}/{entity}.json"
            t_parse = _timed_span(tracer, "probe.envelope",
                                  lambda: _noop(read_envelope(spark, path, entity)))
            parse += t_parse
            if store != "retail":
                continue
            for fn in fns:
                flat += _timed_span(tracer, "probe.flatten", lambda: _noop(
                    fn(read_envelope(spark, path, entity), store))) - t_parse
    jsonl = 0.0
    for store in STORES:
        path = f"{wh}/landing/{store}/customers.jsonl"
        t_parse = _timed_span(tracer, "probe.jsonl",
                              lambda: _noop(read_jsonl(spark, path, "customers")))
        jsonl += t_parse
        if store == "retail":
            flat += _timed_span(tracer, "probe.flatten", lambda: _noop(
                flatten.flatten_customers(read_jsonl(spark, path, "customers"), store))) - t_parse
    out["sources.envelope_parse_s"] = parse
    out["sources.jsonl_parse_s"] = jsonl
    out["flatten.self_s"] = flat
    out["flatten.rows_out"] = parquet_rows(f"{wh}/staging")

    def staging(table):
        return merge.combine_stores(*[spark.read.parquet(f"{wh}/staging/{s}/{table}")
                                      for s in STORES])

    latest = merge.latest_per_key(staging("fact_orders"), "order_id", "updated_at",
                                  "order_number")
    out["merge.latest_per_key_s"] = _timed_span(tracer, "probe.merge", lambda: _noop(latest))
    orders = read_warehouse_table(spark, wh, "fact_orders")
    st_orders = merge.with_month_partition(
        merge.stamp_ingested(project_declared(latest, "fact_orders")))
    out["merge.upsert_s"] = _timed_span(tracer, "probe.merge", lambda: _noop(
        merge.upsert(orders, st_orders.select(*orders.columns), ["order_id"])))
    items = read_warehouse_table(spark, wh, "fact_order_items")
    st_items = merge.latest_per_key(staging("fact_order_items"), ["order_id", "line_item_id"],
                                    "_parent_updated_at", ["quantity", "title"])
    st_items = merge.stamp_ingested(project_declared(
        merge.with_month_partition(st_items, "_parent_created_at", "created_month"),
        "fact_order_items", keep=("created_month",)))
    out["merge.delete_reload_s"] = _timed_span(tracer, "probe.merge", lambda: _noop(
        merge.delete_reload(items, st_items.select(*items.columns), ["order_id"])))

    def dim(store, table):
        return spark.read.parquet(f"{wh}/staging/{store}/{table}")

    out["merge.current_inventory_s"] = _timed_span(tracer, "probe.merge", lambda: _noop(
        merge.current_inventory(
            dim("retail", "fact_current_inventory"), dim("wholesale", "fact_current_inventory"),
            dim("retail", "dim_product_variants"), dim("retail", "dim_products"),
            dim("wholesale", "dim_product_variants"), dim("wholesale", "dim_products"))))
    return out


def _manifest(root: str) -> dict:
    versions = sorted(glob.glob(f"{root}/versions/v*.json"))
    if not versions:
        return {"tables": {}}
    with open(versions[-1]) as f:
        return json.load(f)


def _partition_rows(root: str, manifest: dict, table: str, keys: set) -> int:
    col = manifest.get("partition_col", "created_month")
    entries = manifest["tables"].get(table, {})
    return sum(parquet_rows(f"{root}/data/{table}/{entries[k]}/{col}={k}")
               for k in keys if k in entries)


def layers(st: State, m: Measurement, tracer: Tracer, jobs) -> dict:
    """Layer metrics of the last timed run, from its spans and the jobs
    submitted in its window, plus the probes' jobs."""
    w0, w1 = m.windows[-1]
    run_jobs = jobs_between(jobs, w0, w1)
    tot = summarize(run_jobs)
    spans = [s for s in tracer.spans if w0 <= s.start <= w1]

    def span_total(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    stage_spans = [s for s in spans if s.name == "runner.stage"]
    staging_wall = (max(s.end for s in stage_spans) - min(s.start for s in stage_spans)
                    if stage_spans else 0.0)
    staging_jobs = [j for j in run_jobs if j.pool.startswith("staging-")]

    before = _manifest(f"{st.snapshot}/wh/orders_txn")
    after = _manifest(f"{st.wh}/orders_txn")
    rewritten, target_rows = 0, 0
    for table, entries in after["tables"].items():
        old = before["tables"].get(table, {})
        touched = {k for k, g in entries.items() if old.get(k) != g}
        rewritten += len(touched)
        target_rows += _partition_rows(f"{st.snapshot}/wh/orders_txn", before, table, touched)
    staged_rows = sum(parquet_rows(f"{st.wh}/staging/{s}/{t}") for s in STORES
                      for t in ("fact_orders", "fact_order_items"))
    files = [p for p in glob.glob(f"{st.wh}/**/*", recursive=True)
             if os.path.isfile(p) and os.path.getmtime(p) >= w0]
    return {
        "daily_run_s": m.iteration_s,
        "wh_bytes_per_raw_byte": st.wh_bytes / st.raw_bytes,
        "sources.input_mb": st.meta["raw_bytes"] / 2**20,
        "sources.rows_out": sum(st.meta["stores"][s][k] for s in STORES
                                for k in ("batch_orders", "products", "customers")),
        "sources.envelope_parse_tasks": sum(j.tasks for j in jobs if j.span == "probe.envelope"),
        "sources.bulk_download_s": span_total("sources.bulk_download"),
        "runner.staging_phase_s": staging_wall,
        "runner.merge_phase_s": span_total("runner.merge"),
        "runner.staging_overlap": (sum(j.wall_s for j in staging_jobs) / staging_wall
                                   if staging_wall else 0.0),
        "runner.stage_write_s": sum(j.wall_s for j in staging_jobs
                                    if j.module == "pipeline.runner"),
        "runner.files_written": len(files),
        "runner.mb_written": tot["output_mb"],
        "runner.jobs": tot["jobs"],
        "runner.stages": tot["stages"],
        "runner.tasks": tot["tasks"],
        "watermark.appends": sum(1 for s in spans if s.name == "watermark.append"),
        "watermark.append_s": span_total("watermark.append"),
        "watermark.log_files": len(glob.glob(f"{st.runlog}/*.parquet")),
        "txn_store.commit_s": span_total("txn_store.commit"),
        "txn_store.partitions_rewritten": rewritten,
        "txn_store.mb_rewritten": summarize(
            [j for j in run_jobs if j.module == "pipeline.txn_store"])["output_mb"],
        "merge.shuffle_mb": summarize([j for j in jobs if j.span == "probe.merge"])["shuffle_mb"],
        "merge.target_rows_read_per_staged_row": target_rows / staged_rows if staged_rows else 0.0,
    }
