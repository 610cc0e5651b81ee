"""Two-phase pipeline runner: parallel staging → barrier → serial merge.

Spark twin of the reference's daily job (reference daily_scheduler.py:
100-216, O1-O5 in SURVEY.md §2.12):

* **Phase 1** — store×entity staging tasks run concurrently via a thread
  pool (Spark's scheduler is thread-safe; concurrent jobs share the
  executors). Each task: read raw envelope → flatten → overwrite the
  staging table → log the watermark.
* **Barrier** — any staging failure skips the merge phase
  (daily_scheduler.py:168-172).
* **Phase 2** — serial merges per entity with a 2-attempt retry
  (run_etl_with_retries.py; 'attempt 1/2' markers at run_logs.txt:239).
  Full refresh for dims, upsert for orders/inventory, delete+reload for
  order items, keyed snapshot append.

Warehouse tables are parquet directories; merged results are staged to a
``_tmp`` sibling and atomically swapped. The orders entity writes TWO
tables per run (fact_orders + fact_order_items) and the reference
commits them in one transaction (run_etl_with_retries.py:60-94), so the
pair publishes through the manifest store in ``txn_store.py`` — one
atomic rename covers both tables, closing SURVEY §7.4 risk 1; every
single-table merge keeps the plain swap.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators import flatten, merge
from ..schemas import MERGE_KEYS, SCHEMA_MAP, project_declared
from ..sources import read_envelope
from .watermark import RunLog

STORES = ("retail", "wholesale")
ENTITIES = ("customers", "orders", "products")


@dataclass
class PipelineConfig:
    raw_paths: dict[str, str]  # f"{store}_{entity}" -> envelope path
    warehouse_dir: str
    run_log_dir: str
    snapshot_date: str | None = None
    max_workers: int = 4
    retries: int = 2
    stores: tuple = STORES
    # S5 hook: f"{store}_{entity}" -> bulk transport. Entities listed here
    # stage from a bulk operation (submit → poll → JSONL download → parallel
    # read) instead of a raw envelope — the reference's initial-load path
    # (run_logs.txt:17-147; extract_table.py:325).
    bulk_transports: dict | None = None
    bulk_poll_interval_s: float = 15.0
    # K4 (reference daily_scheduler.py:85-97 archive_and_delete): after a
    # SUCCESSFUL staging, move the raw landing file into this directory
    # (scheme-agnostic — file://, s3a://…). None = keep files in place.
    # Divergence from the reference, on purpose: its no-bucket default
    # DELETES the raw file without archiving anything; we never destroy
    # the only copy — archiving is a move, disabling it is a no-op.
    archive_dir: str | None = None
    # O7 (reference trigger_pbi.py): POST here after all merges succeed.
    # Token is opaque to the engine (S7 stance: no credential minting).
    bi_refresh_url: str | None = None
    bi_refresh_token: str | None = None


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the Hadoop API — scheme-agnostic (file://,
    hdfs://, s3a://…), unlike ``pathlib``/``shutil`` which silently report
    'missing' for any non-local URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file via the Hadoop FS API (scheme-agnostic —
    markers, manifests, bindings). Overwrites; callers needing an atomic
    publish write to a sibling and rename."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file via the Hadoop FS API; None if absent."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def table_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write to a _tmp sibling, then swap — readers never see a half table,
    and the source table can be part of ``df``'s own plan (parquet can't
    overwrite a path it is concurrently reading). Uses the Hadoop FS API
    so the swap works on any filesystem scheme.

    Swap order matters: the old table is RENAMED aside (not deleted)
    before the new one moves in, so there is no window in which a crash
    leaves NO table — at worst ``path._old`` holds the previous version
    for manual recovery. Rename results are checked: Hadoop signals
    rename failure by returning false, not by raising.
    """
    tmp = f"{path}._tmp"
    df.write.mode("overwrite").parquet(tmp)
    spark = df.sparkSession
    fs, target = _hadoop_fs(spark, path)
    tmp_path = _hadoop_fs(spark, tmp)[1]
    old_path = _hadoop_fs(spark, f"{path}._old")[1]
    if fs.exists(old_path):  # leftover from an interrupted previous swap
        fs.delete(old_path, True)
    had_previous = fs.exists(target)
    if had_previous and not fs.rename(target, old_path):
        raise IOError(f"atomic_overwrite: failed to move aside {path}")
    if not fs.rename(tmp_path, target):
        # put the old table back before failing — never leave a gap
        if had_previous:
            fs.rename(old_path, target)
        raise IOError(f"atomic_overwrite: failed to install new table at {path}")
    if had_previous:
        fs.delete(old_path, True)


def _read_table(spark: SparkSession, path: str) -> DataFrame | None:
    return spark.read.parquet(path) if table_exists(spark, path) else None


def archive_raw(spark: SparkSession, src: str, archive_dir: str, store: str, entity: str) -> str | None:
    """K4: move a raw landing file under ``archive_dir/store/entity/``
    (reference daily_scheduler.py:85-97 uploads to
    ``incremental/{store}/{name}`` then deletes the local file). Hadoop FS
    rename is a pure metadata move on hdfs/file and the upload+delete
    analog on object stores via their committers — same API either way.
    Returns the archive path, or None if the source doesn't exist."""
    fs, src_path = _hadoop_fs(spark, src)
    if not fs.exists(src_path):
        return None
    dest = f"{archive_dir}/{store}/{entity}/{src_path.getName()}"
    fs_d, dest_path = _hadoop_fs(spark, dest)
    fs_d.mkdirs(dest_path.getParent())
    if fs_d.exists(dest_path):  # idempotent re-run: same file already archived
        fs.delete(src_path, False)
    elif str(fs.getUri()) != str(fs_d.getUri()):
        # Hadoop rename cannot cross filesystems (file:// landing →
        # s3a:// archive returns false, it does not copy) — use the
        # copy+delete-source path for cross-scheme moves.
        if not spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, src_path, fs_d, dest_path, True,  # True = delete source
            spark._jsc.hadoopConfiguration(),
        ):
            raise IOError(f"archive_raw: failed to copy {src} to {dest}")
    elif not fs.rename(src_path, dest_path):
        raise IOError(f"archive_raw: failed to move {src} to {dest}")
    return dest


ORDERS_PAIR = ("fact_orders", "fact_order_items")


def orders_pair_store(spark: SparkSession, warehouse_dir: str):
    """The warehouse's transactional store for the orders entity pair."""
    from .txn_store import PairStore

    return PairStore(spark, f"{warehouse_dir}/orders_txn", "created_month")


def read_warehouse_table(spark: SparkSession, warehouse_dir: str, table: str):
    """Resolve a warehouse table to a DataFrame (None if absent).

    The orders pair lives in the manifest store once migrated — readers
    resolve the latest committed manifest and always see a CONSISTENT
    (fact_orders, fact_order_items) pair; every other table is a plain
    parquet directory maintained by ``atomic_overwrite``.
    """
    if table in ORDERS_PAIR:
        store = orders_pair_store(spark, warehouse_dir)
        if store.exists():
            return store.read_table(table)
    return _read_table(spark, f"{warehouse_dir}/{table}")


def _migrate_orders_pair(spark: SparkSession, wh: str, store) -> None:
    """One-time adoption of a plain-layout orders pair into the
    transactional store. The migrated snapshot publishes as version 1 with
    the usual single-rename atomicity; the plain directories are removed
    only AFTER that publish (and re-swept if a crash left them behind —
    readers already prefer the store, so the leftovers are inert)."""
    plain_orders = f"{wh}/fact_orders"
    plain_items = f"{wh}/fact_order_items"
    if not store.exists():
        updates = []
        po = _read_table(spark, plain_orders)
        if po is not None:
            if "created_month" not in po.columns:
                po = merge.with_month_partition(po)
            updates.append(("fact_orders", po, lambda ex, st: st))
        pi = _read_table(spark, plain_items)
        if pi is not None:
            if "created_month" not in pi.columns:
                if po is None:
                    raise ValueError(
                        f"{plain_items} has no created_month column and no "
                        f"{plain_orders} to derive it from; rebuild the pair"
                    )
                # legacy items carry no parent timestamp: derive the month
                # from the parent order; orphans land in the NULL partition
                # rather than being dropped
                parents = po.select("order_id", "created_month")
                pi = pi.join(parents, "order_id", "left").select(
                    *pi.columns, "created_month"
                )
            updates.append(("fact_order_items", pi, lambda ex, st: st))
        if not updates:
            return
        store.commit(updates)
    # sweep the plain dirs (post-publish; idempotent across crashes)
    for path in (plain_orders, plain_items):
        fs, p = _hadoop_fs(spark, path)
        if fs.exists(p):
            fs.delete(p, True)


def _stage_one(spark: SparkSession, cfg: PipelineConfig, runlog: RunLog, store: str, entity: str):
    """One staging task (reference process_entity, daily_scheduler.py:100-148)."""
    # Each staging thread gets its own scheduler pool so concurrent jobs
    # share executors fairly (needs spark.scheduler.mode=FAIR, set in
    # session.py; a no-op under FIFO). Local properties are thread-local.
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"staging-{store}-{entity}")
    run_id = runlog.log_start(store, entity)
    try:
        key = f"{store}_{entity}"
        if cfg.bulk_transports and key in cfg.bulk_transports:
            from ..sources.bulk import bulk_extract_to_dataframe

            nodes = bulk_extract_to_dataframe(
                spark,
                cfg.bulk_transports[key],
                entity,
                f"{cfg.warehouse_dir}/landing/{store}/{entity}.jsonl",
                poll_interval_s=cfg.bulk_poll_interval_s,
            )
        else:
            nodes = read_envelope(spark, cfg.raw_paths[key], entity)
        out_dir = f"{cfg.warehouse_dir}/staging/{store}"
        if entity == "customers":
            frames = {"dim_customers": flatten.flatten_customers(nodes, store)}
        elif entity == "orders":
            frames = {
                "fact_orders": flatten.flatten_orders(nodes, store),
                "fact_order_items": flatten.explode_order_items(nodes, store),
            }
        else:
            frames = {
                "dim_products": flatten.flatten_products(nodes),
                "dim_product_variants": flatten.explode_variants(nodes),
                "fact_current_inventory": flatten.inventory_from_products(nodes, store),
            }
        for table, df in frames.items():
            # staging keeps extra plumbing cols (e.g. created_at on
            # inventory) — projection to declared happens at merge time
            atomic_overwrite(df, f"{out_dir}/{table}")
        watermark = flatten.max_updated_at(nodes)
        runlog.log_staging_success(run_id, store, entity, watermark)
        # K4: archive only AFTER the staging tables + watermark are
        # durable — a crash before this line re-reads the raw file on
        # retry, never loses it. An archival hiccup past that commit
        # point must NOT flip the staging run to failed (tables and
        # watermark already landed; the raw file stays put for the next
        # attempt) — warn and carry on.
        if cfg.archive_dir and key in cfg.raw_paths:
            try:
                archive_raw(spark, cfg.raw_paths[key], cfg.archive_dir, store, entity)
            except Exception as ae:  # noqa: BLE001
                import sys

                print(
                    f"archive_raw warning ({store}/{entity}): {ae}",
                    file=sys.stderr,
                )
        return True
    except Exception as e:  # noqa: BLE001
        runlog.log_failure(run_id, store, entity, str(e))
        return False


def _merge_entity(spark: SparkSession, cfg: PipelineConfig, entity: str, ingest_ts) -> None:
    """Serial merge for one entity (reference run_entity_merge)."""
    wh = cfg.warehouse_dir
    stores = list(cfg.stores)

    def staged(table: str) -> DataFrame:
        frames = [
            df
            for s in stores
            if (df := _read_table(spark, f"{wh}/staging/{s}/{table}")) is not None
        ]
        return merge.combine_stores(*frames)

    def finish(table: str, df: DataFrame) -> None:
        out = merge.stamp_ingested(project_declared(df, table), ingest_ts)
        atomic_overwrite(out, f"{wh}/{table}")

    if entity == "customers":
        # M1: TRUNCATE+INSERT full refresh (run_logs.txt:240-285)
        finish("dim_customers", staged("dim_customers"))
    elif entity == "products":
        # M2/M3 full refreshes
        finish("dim_products", staged("dim_products"))
        finish("dim_product_variants", staged("dim_product_variants"))
        # M4: current inventory pipeline + upsert on sku (run_logs.txt:335-435)
        inv_r = _read_table(spark, f"{wh}/staging/retail/fact_current_inventory")
        inv_w = _read_table(spark, f"{wh}/staging/wholesale/fact_current_inventory")
        # single-store runs degrade to an empty other side rather than
        # silently skipping the inventory pipeline
        if inv_r is None and inv_w is not None:
            inv_r = inv_w.limit(0)
        if inv_w is None and inv_r is not None:
            inv_w = inv_r.limit(0)
        if inv_r is not None and inv_w is not None:
            # each store's inventory joins its OWN staging dims (reference
            # run_logs.txt:358/377) — ids carry no store prefix, so a
            # cross-store dim union would duplicate shared variants
            def store_dim(store: str, table: str) -> DataFrame:
                df = _read_table(spark, f"{wh}/staging/{store}/{table}")
                if df is None:
                    other = "wholesale" if store == "retail" else "retail"
                    df = _read_table(spark, f"{wh}/staging/{other}/{table}").limit(0)
                return df

            current = merge.current_inventory(
                inv_r,
                inv_w,
                store_dim("retail", "dim_product_variants"),
                store_dim("retail", "dim_products"),
                store_dim("wholesale", "dim_product_variants"),
                store_dim("wholesale", "dim_products"),
            )
            target = _read_table(spark, f"{wh}/fact_current_inventory")
            staged_inv = merge.stamp_ingested(
                project_declared(current, "fact_current_inventory"), ingest_ts
            )
            if target is not None:
                staged_inv = merge.upsert(target, staged_inv, MERGE_KEYS["fact_current_inventory"])
            atomic_overwrite(staged_inv, f"{wh}/fact_current_inventory")
            # M5: daily snapshot — dynamic overwrite of ONLY today's
            # partition (same-day reruns idempotent, history never
            # rewritten; the 100 TB shape vs a full-table upsert)
            snap = merge.stamp_ingested(
                merge.snapshot_rows(current, cfg.snapshot_date), ingest_ts
            )
            merge.overwrite_partitions(snap, f"{wh}/inventory_snapshot", "snapshot_date")
    else:  # orders
        # M6: keyed upsert; M7: delete+reload of child items (run_logs.txt:472-573).
        # A batch can re-deliver an order (pagination overlap mid-extraction,
        # multiple envelope files): dedupe staged rows to the latest version
        # per key BEFORE merging, like the streaming twin does — otherwise
        # duplicate-key rows land in the warehouse.
        staged_orders = merge.latest_per_key(
            staged("fact_orders"), "order_id", "updated_at", "order_number"
        )
        staged_orders = merge.stamp_ingested(
            project_declared(staged_orders, "fact_orders"), ingest_ts
        )

        # children: keep only the winning parent version's rows (the
        # transient _parent_updated_at carries the order version)
        staged_items = merge.latest_per_key(
            staged("fact_order_items"),
            ["order_id", "line_item_id"],
            "_parent_updated_at",
            ["quantity", "title"],
        )
        # Items partition on the PARENT order's created month (immutable),
        # so every existing child of a staged order lives inside the
        # partitions the batch touches — the delete side of delete+reload
        # never looks outside the pruned set.
        staged_items = merge.with_month_partition(
            staged_items, "_parent_created_at", "created_month"
        )
        staged_items = merge.stamp_ingested(
            project_declared(staged_items, "fact_order_items", keep=("created_month",)),
            ingest_ts,
        )

        # M6+M7 commit ATOMICALLY as a pair, matching the reference's
        # one-transaction-per-entity semantics (run_etl_with_retries.py:
        # 60-94, conn.autocommit=False at :30): both tables' touched
        # month partitions stage into fresh generation dirs, and ONE
        # manifest rename publishes them together — a crash between the
        # two table writes leaves readers on the OLD consistent pair
        # (crash-injection pinned in tests/test_pipeline.py). Partition
        # scoping is unchanged: a daily batch still opens only the 1-2
        # months its staged keys live in.
        store = orders_pair_store(spark, wh)
        _migrate_orders_pair(spark, wh, store)
        store.commit([
            (
                "fact_orders",
                merge.with_month_partition(staged_orders),
                lambda ex, st: st if ex is None
                else merge.upsert(ex, st, MERGE_KEYS["fact_orders"]),
            ),
            (
                "fact_order_items",
                staged_items,
                lambda ex, st: st if ex is None
                else merge.delete_reload(ex, st, ["order_id"]),
            ),
        ])


def run_daily(spark: SparkSession, cfg: PipelineConfig, ingest_ts=None) -> dict:
    """Full daily run: parallel staging → barrier → serial merge+retries.

    Returns {'staging': {(store, entity): bool}, 'merge': {entity: bool}}.
    """
    runlog = RunLog(spark, cfg.run_log_dir)
    sources = set(cfg.raw_paths) | set(cfg.bulk_transports or ())
    tasks = [(s, e) for s in cfg.stores for e in ENTITIES if f"{s}_{e}" in sources]

    with ThreadPoolExecutor(max_workers=cfg.max_workers) as pool:
        futures = {
            (s, e): pool.submit(_stage_one, spark, cfg, runlog, s, e) for s, e in tasks
        }
        staging = {k: f.result() for k, f in futures.items()}

    results = {"staging": staging, "merge": {}}
    if not all(staging.values()):  # barrier (daily_scheduler.py:168-172)
        return results

    # merge only entities that actually staged this run — a partial config
    # (orders-only) must not attempt customer/product merges over nothing
    staged_entities = [e for e in ENTITIES if any(ent == e for (_s, ent) in tasks)]
    for entity in staged_entities:
        ok, err = False, None
        for _attempt in range(cfg.retries):
            try:
                _merge_entity(spark, cfg, entity, ingest_ts)
                ok = True
                break
            except Exception as e:  # noqa: BLE001
                err = e
        results["merge"][entity] = ok
        if not ok and err is not None:
            results.setdefault("errors", {})[entity] = str(err)

    # O7: kick the BI refresh only when every merge committed (the
    # reference's scheduler runs trigger_pbi after the pipeline). The
    # result is recorded, never raised — see trigger_bi_refresh.
    if cfg.bi_refresh_url and results["merge"] and all(results["merge"].values()):
        from .trigger import trigger_bi_refresh

        results["bi_refresh"] = trigger_bi_refresh(
            cfg.bi_refresh_url, cfg.bi_refresh_token, retries=cfg.retries
        )
    return results
