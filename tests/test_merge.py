"""Merge-layer tests: upsert idempotence, delete+reload, priority fill,
latest-per-key determinism, end-to-end inventory pipeline on fixtures."""

import pytest
from pyspark.sql import functions as F

from shopify_etl_spark.operators import flatten, merge
from shopify_etl_spark.sources import read_envelope

from tests.shopify_fixtures import make_fixture_set


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    return make_fixture_set(tmp_path_factory.mktemp("shopify_merge"))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_semantics_and_idempotence(spark):
    target = spark.createDataFrame(
        [(1, "old", 10.0), (2, "keep", 20.0)], ["k", "v", "x"]
    )
    staged = spark.createDataFrame([(1, "new", 11.0), (3, "ins", 30.0)], ["k", "v", "x"])
    once = merge.upsert(target, staged, "k")
    assert _sorted_rows(once) == [(1, "new", 11.0), (2, "keep", 20.0), (3, "ins", 30.0)]
    twice = merge.upsert(once, staged, "k")
    assert _sorted_rows(twice) == _sorted_rows(once)  # replay-idempotent


def test_delete_reload_drops_all_old_children(spark):
    target = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 3)], ["order_id", "item", "q"]
    )
    staged = spark.createDataFrame([(1, "a", 9)], ["order_id", "item", "q"])
    out = merge.delete_reload(target, staged, "order_id")
    # order 1 had items a,b — both removed, only staged 'a' reinserted
    assert _sorted_rows(out) == [(1, "a", 9), (2, "c", 3)]


def test_priority_fill_primary_wins(spark):
    retail = spark.createDataFrame([("S1", "retail"), ("S2", "retail")], ["sku", "src"])
    wholesale = spark.createDataFrame(
        [("S2", "wholesale"), ("S3", "wholesale")], ["sku", "src"]
    )
    out = {r.sku: r.src for r in merge.priority_fill(retail, wholesale, "sku").collect()}
    assert out == {"S1": "retail", "S2": "retail", "S3": "wholesale"}


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [
            ("S1", "2025-01-01", "v1"),
            ("S1", "2025-01-02", "v2"),   # newer wins
            ("S2", "2025-01-01", "v3"),
            ("S2", "2025-01-01", "v9"),   # equal ts → higher tiebreak wins
        ],
        ["sku", "created_at", "variant_id"],
    )
    out = {r.sku: r.variant_id for r in
           merge.latest_per_key(df, "sku", "created_at", "variant_id").collect()}
    assert out == {"S1": "v2", "S2": "v9"}


def test_order_pipeline_replay_idempotent(spark, fixture_paths):
    """Scenario C.1/C.2 (FIXTURES.md): batch2 re-includes updated orders;
    upsert + delete_reload absorb the overlap with no duplicates."""
    def load(path):
        nodes = read_envelope(spark, str(path), "orders")
        return flatten.flatten_orders(nodes, "retail"), flatten.explode_order_items(nodes, "retail")

    o1, i1 = load(fixture_paths["retail_orders"])
    o2, i2 = load(fixture_paths["retail_orders_b2"])

    orders_v1 = merge.upsert(o1, o2, "order_id")
    items_v1 = merge.delete_reload(i1, i2, "order_id")
    # replay batch 2
    orders_v2 = merge.upsert(orders_v1, o2, "order_id")
    items_v2 = merge.delete_reload(items_v1, i2, "order_id")
    assert _sorted_rows(orders_v2) == _sorted_rows(orders_v1)
    assert _sorted_rows(items_v2) == _sorted_rows(items_v1)

    # no duplicate keys; updated orders carry batch-2 values
    assert orders_v1.groupBy("order_id").count().filter("count > 1").count() == 0
    assert orders_v1.count() == 50  # 40 originals + 10 new
    upd = orders_v1.filter(F.col("order_id") == "R-0").collect()[0]
    assert upd.updated_at.day == 28  # batch-2 updatedAt won


def test_current_inventory_pipeline(spark, fixture_paths):
    """Scenario C.3/C.4: dirty SKUs dropped, normalization applied,
    retail wins SKU collisions, only ACTIVE products survive."""
    r_nodes = read_envelope(spark, str(fixture_paths["retail_products"]), "products")
    w_nodes = read_envelope(spark, str(fixture_paths["wholesale_products"]), "products")
    inv_r = flatten.inventory_from_products(r_nodes, "retail")
    inv_w = flatten.inventory_from_products(w_nodes, "wholesale")
    variants = merge.combine_stores(flatten.explode_variants(r_nodes), flatten.explode_variants(w_nodes))

    out = merge.current_inventory(
        inv_r,
        inv_w,
        flatten.explode_variants(r_nodes),
        flatten.flatten_products(r_nodes),
        flatten.explode_variants(w_nodes),
        flatten.flatten_products(w_nodes),
    )
    rows = out.collect()
    skus = [r.sku for r in rows]
    assert len(skus) == len(set(skus))  # unique per sku
    assert all(s == s.strip().upper() and s != "" for s in skus)  # normalized, non-empty
    # any shared SKU present in both stores must resolve to retail
    srcs = {r.sku: r.source_system for r in rows}
    r_skus = {r.sku for r in inv_r.filter("sku IS NOT NULL AND trim(sku) <> ''")
              .select(F.upper(F.trim("sku")).alias("sku")).collect()}
    for sku, src in srcs.items():
        if sku in r_skus:
            # retail rows can still lose to nothing; they must never be wholesale
            vr = variants.filter(F.upper(F.trim("sku")) == sku)
            if src == "wholesale":
                assert sku not in r_skus or vr.count() == 0


def test_snapshot_rows_idempotent_key(spark):
    inv = spark.createDataFrame(
        [("S1", 1, 2, 3, 4, 5, "v1", "p1", "retail")],
        ["sku", "available", "committed", "on_hand", "incoming", "reserved",
         "variant_id", "product_id", "source_system"],
    )
    snap = merge.snapshot_rows(inv, "2025-11-28")
    assert snap.columns == ["sku", "snapshot_date", "available", "committed",
                            "on_hand", "incoming", "reserved"]
    merged = merge.upsert(snap, merge.snapshot_rows(inv, "2025-11-28"),
                          ["sku", "snapshot_date"])
    assert merged.count() == 1  # same-day re-run updates in place
    two_days = merge.upsert(snap, merge.snapshot_rows(inv, "2025-11-29"),
                            ["sku", "snapshot_date"])
    assert two_days.count() == 2  # next day appends
