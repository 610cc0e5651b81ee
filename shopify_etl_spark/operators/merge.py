"""Merge-layer operators: the reference's seven SQL jobs as DataFrame
pipelines (SURVEY.md §2.9 M1-M7; rendered SQL at reference
run_logs.txt:240-573).

Pure-Spark merge semantics (no Delta dependency in this environment):
upsert/delete-reload are anti-join + unionByName rewrites. Everything
here is a pure DataFrame transform except ``overwrite_partitions``, the
snapshot table's dynamic partition overwrite. Storage lives in
``pipeline/``: ``runner.atomic_overwrite`` swaps plain tables, and
``txn_store.PairStore.commit`` publishes the orders pair (M6 + M7) with
one manifest rename, the reference's one transaction per entity.

Scale notes baked into each op:

* Upsert touches only (staged ∪ matching-key) rows; at 100 TB the target
  is partitioned (by month) and the anti-join right side — the staged key
  set — is small per run, so AQE broadcasts it. Partition scoping is the
  storage layer's job: ``pipeline/txn_store.py::PairStore.commit`` hands
  these operators only the partitions a batch touches, so unchanged
  partitions are never read or rewritten.
* The inventory pipeline broadcasts the dim sides and dedups with one
  window over the normalized key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import non_empty, norm_sku


def combine_stores(*stores: DataFrame) -> DataFrame:
    """U1 — UNION ALL of per-store staging frames, resolved by name
    (reference make_combined_staging_table, run_etl_with_retries.py:41-44)."""
    if not stores:
        raise ValueError("combine_stores needs at least one staging frame")
    out = stores[0]
    for df in stores[1:]:
        out = out.unionByName(df)
    return out


def latest_per_key(df: DataFrame, key_cols, order_col: str, tiebreak_col) -> DataFrame:
    """W1 — latest-per-key dedup (Postgres DISTINCT ON … ORDER BY … DESC,
    reference run_logs.txt:346-361) with a pinned deterministic tie-break
    (PG leaves equal-order ties nondeterministic; we order by
    ``tiebreak_col`` DESC as documented in SURVEY §7.4). ``tiebreak_col``
    may be a list when one column isn't unique within a key group —
    determinism requires the full ordering to be a total order."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tiebreaks = [tiebreak_col] if isinstance(tiebreak_col, str) else list(tiebreak_col)
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), *[F.desc(t) for t in tiebreaks]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def priority_fill(primary: DataFrame, secondary: DataFrame, key_cols) -> DataFrame:
    """J3/U2 — retail-priority gap fill: primary ∪ (secondary ∖ primary
    keys) (reference run_logs.txt:381-390). left_anti is NOT-IN-safe here
    because upstream filtering guarantees non-null keys (run_logs.txt:359)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    gap = secondary.join(primary.select(*key_cols).distinct(), key_cols, "left_anti")
    return primary.unionByName(gap)


def upsert(target: DataFrame, staged: DataFrame, key_cols) -> DataFrame:
    """M4/M6/J4 — keyed upsert (ON CONFLICT … DO UPDATE, reference
    run_logs.txt:510-536): staged rows win, target rows survive only where
    their key is absent from the batch. Staged is deduped on the key first
    (last-write-wins needs an explicit order; callers use latest_per_key
    when the batch may contain multiple versions)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    survivors = target.join(staged.select(*key_cols).distinct(), key_cols, "left_anti")
    return staged.unionByName(survivors)


def delete_reload(target: DataFrame, staged: DataFrame, parent_keys) -> DataFrame:
    """M7/J5 — delete+reload of child rows (DELETE WHERE order_id IN
    (SELECT DISTINCT …) then INSERT, reference run_logs.txt:550-565):
    every old child of a staged parent is dropped, staged children
    appended."""
    parent_keys = [parent_keys] if isinstance(parent_keys, str) else list(parent_keys)
    kept = target.join(staged.select(*parent_keys).distinct(), parent_keys, "left_anti")
    return kept.unionByName(staged)


def stamp_ingested(df: DataFrame, ts=None) -> DataFrame:
    """Append the audit ``ingested_at`` column the merge layer stamps on
    every target (reference run_logs.txt:246,277). ``ts`` is a driver-side
    literal (the reference resolves it via a scalar subquery on the run
    log, J6 at run_logs.txt:277)."""
    col = F.lit(ts).cast("timestamp") if ts is not None else F.current_timestamp()
    return df.withColumn("ingested_at", col)


def snapshot_rows(inventory: DataFrame, snapshot_date=None) -> DataFrame:
    """M5 — daily snapshot projection: inventory + snapshot_date literal
    (reference incremental_loaders.py:271-272,336-348). Idempotent per
    (sku, snapshot_date) via upsert on those keys; at scale the target is
    partitioned by snapshot_date and each run overwrites one partition."""
    date_col = (
        F.lit(snapshot_date).cast("date") if snapshot_date is not None else F.current_date()
    )
    return inventory.select(
        "sku",
        date_col.alias("snapshot_date"),
        "available",
        "committed",
        "on_hand",
        "incoming",
        "reserved",
    )


def current_inventory(
    inv_retail: DataFrame,
    inv_wholesale: DataFrame,
    variants_retail: DataFrame,
    products_retail: DataFrame,
    variants_wholesale: DataFrame | None = None,
    products_wholesale: DataFrame | None = None,
) -> DataFrame:
    """M4 head — the most query-like pipeline in the reference
    (run_logs.txt:335-401): per store, filter dirty SKUs (F9), normalize
    (F7), dedup latest-per-SKU (W1), join variants (J1) and ACTIVE
    products (J2), then retail-priority merge (J3).

    Each store's inventory joins its OWN store's dims (the reference
    joins staging_retail_* to retail inventory and staging_wholesale_*
    to wholesale, run_logs.txt:358/377) — product/variant ids carry no
    store prefix, so a cross-store union of dims would fan shared
    variants out to duplicate rows and let one store's ACTIVE status
    leak into the other. Omitting the wholesale dims reuses the retail
    ones (single-catalog deployments).

    The dim joins broadcast (variants/products are small relative to
    inventory rows and shrink further after the ACTIVE filter).
    """
    if variants_wholesale is None:
        variants_wholesale = variants_retail
    if products_wholesale is None:
        products_wholesale = products_retail

    def store_dims(variants: DataFrame, products: DataFrame) -> DataFrame:
        active = products.filter(F.col("status") == "ACTIVE").select("product_id")
        return variants.join(F.broadcast(active), "product_id").select(
            F.col("variant_id").alias("v_variant_id"),
            F.col("product_id").alias("v_product_id"),
        )

    def per_store(inv: DataFrame, dims: DataFrame) -> DataFrame:
        cleaned = (
            inv.filter(non_empty("sku"))
            .withColumn("sku", norm_sku("sku"))
        )
        deduped = latest_per_key(cleaned, "sku", "created_at", "variant_id")
        return (
            deduped.join(F.broadcast(dims), deduped.variant_id == dims.v_variant_id)
            .select(
                "sku",
                *["available", "committed", "on_hand", "incoming", "reserved"],
                "variant_id",
                F.col("v_product_id").alias("product_id"),
                "source_system",
            )
        )

    retail = per_store(inv_retail, store_dims(variants_retail, products_retail))
    wholesale = per_store(inv_wholesale, store_dims(variants_wholesale, products_wholesale))
    return priority_fill(retail, wholesale, "sku")


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Dynamic partition overwrite: rewrite ONLY the partitions present in
    ``df``, leave every other partition untouched — the parquet analog of
    Delta ``replaceWhere`` and the 100 TB shape for M5 snapshots
    (SURVEY §7.4: 'snapshot via partition overwrite not full rewrite').

    A same-day re-run replaces just that day's directory; history is never
    read, never rewritten.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def with_month_partition(
    df: DataFrame, ts_col: str = "created_at", out_col: str = "created_month"
) -> DataFrame:
    """Derive the physical partition column for a month-partitioned fact
    table (fact_orders at 100 TB: ~one directory per month; a daily batch
    touches 1-2 of them). String yyyy-MM so partition-value inference on
    read-back is type-stable across engines/filesystems."""
    return df.withColumn(out_col, F.date_format(F.col(ts_col), "yyyy-MM"))
