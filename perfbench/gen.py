"""Seeded input generators for the benchmark.

Two input families, each a pure function of its seed:

* Shopify raw zone (``daily_incremental``): two-store order and product
  envelopes, full customer exports as bulk JSONL, and a fixed-seed base
  history that the benchmark loads into a warehouse once and restores
  before every timed run. Node shapes follow the GraphQL documents the
  flatten layer reads (the same shapes the test fixtures use).
* Catalog tables (``bi_queries``): the TPC-H-like star schema plus the
  ``events`` and ``documents`` tables the catalog queries read, written
  as one parquet file each, from the fixed ``CATALOG_SEED``.

Everything is written through ``_publish``: a directory is built under a
temporary name and renamed into place, so an interrupted run never leaves
a half-written cache entry behind.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reference window (BASELINE.md: 35,687 retail orders / 97,546 items,
# 748 / 6,577 wholesale, 934 / 788 products, 383k / 9k customers) scaled
# down by SCALE; the base history holds BASE_WINDOWS windows of orders.
SCALE = 20
BASE_WINDOWS = 10
BASE_SEED = 20251204
CATALOG_SEED = 20251204
SIZES = {
    "retail": {"orders": 35687 // SCALE, "items": (1, 4), "products": 934 // SCALE,
               "customers": 383165 // SCALE},
    "wholesale": {"orders": 748 // SCALE + 1, "items": (4, 14), "products": 788 // SCALE,
                  "customers": 9016 // SCALE},
}
STORE_BASE_ID = {"retail": 1, "wholesale": 50_000_000}
REDELIVER_SHARE = 0.20   # batch orders that re-deliver a base order
RECENT_SHARE = 0.80      # ...of which land in the two newest months
REPEAT_SHARE = 0.02      # batch orders delivered twice within the batch
MONTHS = ["2024-12"] + [f"2025-{m:02d}" for m in range(1, 12)]
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _publish(final: str, build) -> str:
    """Build a cache directory atomically: ``build(tmp_dir)`` then rename."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another process published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# Shopify raw zone
# ---------------------------------------------------------------------------

def _gid(typ: str, n: int) -> str:
    return f"gid://shopify/{typ}/{n}"


def _maybe(rng: random.Random, value, p_null: float = 0.1):
    return None if rng.random() < p_null else value


def _money_set(rng: random.Random) -> dict:
    return {"shopMoney": {"amount": f"{rng.uniform(1, 500):.2f}", "currencyCode": "USD"}}


def _stamp(month: str, rng: random.Random, day_lo: int = 1, day_hi: int = 28) -> str:
    return (f"{month}-{rng.randint(day_lo, day_hi):02d}T{rng.randint(0, 23):02d}:"
            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")


def _address(rng: random.Random) -> dict:
    return {
        "address1": f"{rng.randint(1, 999)} Main St",
        "address2": _maybe(rng, "Suite 1"),
        "city": rng.choice(["Springfield", "Rivertown", "Lakeside"]),
        "province": rng.choice(["ON", "BC", "QC"]),
        "country": "Canada",
        "zip": f"K{rng.randint(1, 9)}A{rng.randint(0, 9)}B{rng.randint(0, 9)}",
        "phone": _maybe(rng, f"+1-555-{rng.randint(1000, 9999)}"),
        "company": _maybe(rng, "ACME Inc", 0.5),
    }


def customer_node(rng: random.Random, cid: int) -> dict:
    return {
        "id": _gid("Customer", cid),
        "firstName": rng.choice(["Ada", "Grace", "Alan", "Edsger"]),
        "lastName": rng.choice(["Lovelace", "Hopper", "Turing", "Dijkstra"]),
        "email": f"user{cid}@example.com",
        "phone": _maybe(rng, f"+1-555-{rng.randint(1000, 9999)}"),
        "createdAt": _stamp(rng.choice(MONTHS), rng),
        "updatedAt": _stamp("2025-11", rng, 1, 27),
        "state": rng.choice(["ENABLED", "DISABLED", "INVITED"]),
        "taxExempt": _maybe(rng, rng.random() < 0.3),
        "note": _maybe(rng, "vip", 0.7),
        "tags": rng.sample(WORDS, rng.randint(0, 4)),
        "numberOfOrders": str(rng.randint(0, 40)),
        "lifetimeDuration": f"{rng.randint(1, 60)} months",
        "amountSpent": _maybe(rng, {"amount": f"{rng.uniform(1, 5000):.2f}",
                                    "currencyCode": "USD"}),
        "defaultAddress": _maybe(rng, _address(rng)),
        "lastOrder": _maybe(rng, {"id": _gid("Order", rng.randint(1, 999)),
                                  "createdAt": _stamp("2025-11", rng)}),
        "statistics": _maybe(rng, {"predictedSpendTier": rng.choice(["HIGH", "MEDIUM", "LOW"]),
                                   "rfmGroup": rng.choice(["CHAMPIONS", "AT_RISK", "LOYAL"])}),
    }


def order_node(rng: random.Random, oid: int, created: str, updated: str, n_items: int,
               n_customers: int, base_cid: int) -> dict:
    items = [
        {"node": {
            "id": _gid("LineItem", oid * 100 + i),
            "title": " ".join(rng.sample(WORDS, 2)),
            "quantity": rng.randint(1, 5),
            "variant": _maybe(rng, {"id": _gid("ProductVariant", rng.randint(1, 500))}),
            "product": _maybe(rng, {"id": _gid("Product", rng.randint(1, 60))}),
            "originalUnitPriceSet": _money_set(rng),
            "discountedUnitPriceSet": _money_set(rng),
        }}
        for i in range(n_items)
    ]
    return {
        "id": _gid("Order", oid),
        "name": f"#{1000 + oid}",
        "createdAt": created,
        "updatedAt": updated,
        "processedAt": _maybe(rng, created),
        "cancelledAt": _maybe(rng, updated, 0.9),
        "cancelReason": _maybe(rng, "CUSTOMER", 0.9),
        "confirmed": rng.random() < 0.9,
        "tags": rng.sample(WORDS, rng.randint(0, 3)),
        "displayFulfillmentStatus": rng.choice(["FULFILLED", "UNFULFILLED", "PARTIALLY_FULFILLED"]),
        "sourceName": rng.choice(["web", "pos", "shopify_draft_order"]),
        "subtotalPriceSet": _money_set(rng),
        "totalPriceSet": _money_set(rng),
        "totalTaxSet": _money_set(rng),
        "totalDiscountsSet": _money_set(rng),
        "totalShippingPriceSet": _maybe(rng, _money_set(rng)),
        "customer": _maybe(rng, {"id": _gid("Customer", base_cid + rng.randrange(n_customers))}),
        "shippingAddress": _maybe(rng, _address(rng)),
        "lineItems": {"edges": items},
    }


def product_node(rng: random.Random, pid: int, shared_skus: list[str]) -> dict:
    variants = []
    for v in range(1 if rng.random() < 0.85 else 2):
        vid = pid * 10 + v
        sku = rng.choice(shared_skus) if rng.random() < 0.2 else f"SKU-{vid}"
        levels = [
            {"node": {"quantities": [
                {"name": m, "quantity": rng.randint(0, 50)}
                for m in rng.sample(["available", "on_hand", "committed", "incoming", "reserved"],
                                    rng.randint(1, 5))
            ]}}
            for _ in range(rng.randint(1, 3))
        ]
        variants.append({"node": {
            "id": _gid("ProductVariant", vid),
            "sku": sku,
            "price": f"{rng.uniform(5, 200):.2f}",
            "compareAtPrice": _maybe(rng, f"{rng.uniform(5, 250):.2f}", 0.4),
            "availableForSale": rng.random() < 0.8,
            "createdAt": _stamp(rng.choice(MONTHS), rng),
            "updatedAt": _stamp("2025-11", rng, 1, 27),
            "inventoryItem": {"id": _gid("InventoryItem", vid),
                              "inventoryLevels": {"edges": levels}},
        }})
    return {
        "id": _gid("Product", pid),
        "title": " ".join(rng.sample(WORDS, 3)).title(),
        "handle": f"product-{pid}",
        "productType": rng.choice(["Shirt", "Mug", "Poster"]),
        "vendor": rng.choice(["VendorA", "VendorB"]),
        "status": rng.choice(["ACTIVE", "ACTIVE", "ACTIVE", "DRAFT", "ARCHIVED"]),
        "createdAt": _stamp(rng.choice(MONTHS), rng),
        "updatedAt": _stamp("2025-11", rng, 1, 27),
        "tags": rng.sample(WORDS, rng.randint(0, 3)),
        "tracksInventory": rng.random() < 0.9,
        "variants": {"edges": variants},
    }


def write_envelope(path: str, store: str, entity: str, nodes: list[dict]) -> int:
    """The raw envelope as the extractor persists it; returns its size."""
    doc = {
        "metadata": {"store_type": store, "entity_type": entity,
                     "extracted_at": "2025-11-29T05:45:00Z",
                     "record_count": len(nodes), "shop_name": f"{store}-shop"},
        "data": [{"cursor": f"c{i}", "node": n} for i, n in enumerate(nodes)],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return os.path.getsize(path)


def write_jsonl(path: str, nodes: list[dict]) -> int:
    with open(path, "w") as f:
        for n in nodes:
            f.write(json.dumps(n))
            f.write("\n")
    return os.path.getsize(path)


def _customers(rng: random.Random, store: str) -> list[dict]:
    base = STORE_BASE_ID[store]
    return [customer_node(rng, base + i) for i in range(SIZES[store]["customers"])]


def _products(rng: random.Random, store: str) -> list[dict]:
    shared = [f"SHARED-{i}" for i in range(10)]
    base = STORE_BASE_ID[store]
    return [product_node(rng, base + i, shared) for i in range(SIZES[store]["products"])]


def _write_store_files(out: str, store: str, orders, products, customers) -> dict:
    os.makedirs(f"{out}/{store}", exist_ok=True)
    return {
        "orders": write_envelope(f"{out}/{store}/orders.json", store, "orders", orders),
        "products": write_envelope(f"{out}/{store}/products.json", store, "products", products),
        "customers": write_jsonl(f"{out}/{store}/customers.jsonl", customers),
    }


def build_base(out: str) -> None:
    """Fixed-seed order history (BASE_WINDOWS reference windows spread over
    twelve months) plus the catalog and customer exports it was loaded with."""
    rng = random.Random(BASE_SEED)
    meta = {"stores": {}, "raw_bytes": 0}
    for store in ("retail", "wholesale"):
        sz = SIZES[store]
        n = sz["orders"] * BASE_WINDOWS
        base = STORE_BASE_ID[store]
        orders, index = [], []
        for i in range(n):
            oid = base + i
            month = MONTHS[i * len(MONTHS) // n]
            created = _stamp(month, rng)
            n_items = rng.randint(*sz["items"])
            orders.append(order_node(rng, oid, created, _stamp("2025-11", rng, 1, 20), n_items,
                                     sz["customers"], base))
            index.append([oid, created, n_items])
        sizes = _write_store_files(out, store, orders, _products(rng, store),
                                   _customers(rng, store))
        meta["stores"][store] = {"orders": index}
        meta["raw_bytes"] += sum(sizes.values())
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


def build_batch(out: str, seed: int, base_meta: dict) -> None:
    """One day's two-store batch for ``seed``: new orders, re-deliveries of
    base orders (mostly in the two newest months), in-batch repeats, the
    store catalogs, and full customer exports for the bulk path."""
    rng = random.Random(seed)
    meta = {"stores": {}, "raw_bytes": 0, "seed": seed}
    recent = set(MONTHS[-2:])
    for store in ("retail", "wholesale"):
        sz = SIZES[store]
        base_orders = base_meta["stores"][store]["orders"]
        n = sz["orders"]
        n_re = round(n * REDELIVER_SHARE)
        n_new = n - n_re
        newest = [o for o in base_orders if o[1][:7] in recent]
        older = [o for o in base_orders if o[1][:7] not in recent]
        n_recent = round(n_re * RECENT_SHARE)
        redeliver = rng.sample(newest, n_recent) + rng.sample(older, n_re - n_recent)
        first_new = STORE_BASE_ID[store] + len(base_orders)
        # (oid, createdAt, n_items); the final item count per order is what
        # the warehouse must hold after delete+reload
        specs = [(o[0], o[1], rng.randint(*sz["items"])) for o in redeliver]
        specs += [(first_new + i, _stamp("2025-11", rng, 21, 28), rng.randint(*sz["items"]))
                  for i in range(n_new)]
        orders = [order_node(rng, oid, created, _stamp("2025-11", rng, 28, 28), k,
                             sz["customers"], STORE_BASE_ID[store])
                  for oid, created, k in specs]
        # re-sent pages: the same order and line items, a later updatedAt
        repeats = rng.sample(range(len(orders)), max(1, round(n * REPEAT_SHARE)))
        for j in repeats:
            again = json.loads(json.dumps(orders[j]))
            again["updatedAt"] = later(orders[j]["updatedAt"], 3600)
            again["displayFulfillmentStatus"] = "FULFILLED"
            orders.append(again)
        rng.shuffle(orders)
        products = _products(rng, store)
        customers = _customers(rng, store)
        sizes = _write_store_files(out, store, orders, products, customers)
        final_items = {o[0]: o[2] for o in base_orders}
        final_items.update({oid: k for oid, _c, k in specs})
        meta["stores"][store] = {
            "orders": len(final_items),
            "items": sum(final_items.values()),
            "customers": len(customers),
            "products": len(products),
            "variants": sum(len(p["variants"]["edges"]) for p in products),
            "batch_orders": len(orders),
            "redelivered": n_re,
            "repeated": len(repeats),
        }
        meta["raw_bytes"] += sum(sizes.values())
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


# ---------------------------------------------------------------------------
# Catalog tables (TPC-H-like star schema + events + documents)
# ---------------------------------------------------------------------------

# Row counts of the repository's sf0.1 test data (the scale at which the
# catalog's oracles were checked); ``users`` is the events table's user range.
CATALOG_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
                "lineitem": 600000, "events": 100000, "users": 1500, "documents": 5000,
                "embeddings": 2000}
DOC_WORDS = ("join hash row batch scan customer column filter small slow merge order vector "
             "line data table agg value key stream window spark a group part big sort query "
             "fast the").split()


def _ts_us(start: datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_catalog(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    r = CATALOG_ROWS
    day = 86400.0
    epoch95 = datetime(1995, 1, 1)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    write("customer", {
        "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, r["customer"])),
        "c_mktsegment": segs[rng.integers(0, 5, r["customer"])],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, r["supplier"])),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "shiny", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    n_part = r["part"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _round2(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    n_o = r["orders"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n_o), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_o)),
        "o_orderdate": _ts_us(epoch95, rng.integers(0, 2404, n_o) * day),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_o)],
    })
    n_l = r["lineitem"]
    flags = np.array([("A", "O"), ("N", "F"), ("R", "O"), ("R", "F"), ("A", "F"), ("N", "O")])
    pick = flags[rng.integers(0, 6, n_l)]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_l)),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pick[:, 0],
        "l_linestatus": pick[:, 1],
        "l_shipdate": _ts_us(datetime(1995, 1, 2), rng.integers(0, 2498, n_l) * day),
    })
    n_e = r["events"]
    write("events", {
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts_us(datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * day, n_e))),
        "user_id": pa.array(rng.integers(0, r["users"], n_e), pa.int64()),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_e)],
        "value": np.maximum(_round2(rng.exponential(40.0, n_e)), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = r["documents"]
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n_d):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    n_v = r["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_v)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_d)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_dir(cache: str) -> str:
    return _publish(f"{cache}/shopify-base-{BASE_SEED}", build_base)


def shopify_dirs(cache: str, seed: int) -> tuple[str, str]:
    """(base dir, batch dir) for ``seed``, generating whichever is missing."""
    base = base_dir(cache)
    with open(f"{base}/meta.json") as f:
        base_meta = json.load(f)
    batch = _publish(f"{cache}/shopify-batch-{seed}",
                     lambda d: build_batch(d, seed, base_meta))
    return base, batch


def catalog_dir(cache: str) -> str:
    return _publish(f"{cache}/catalog-{CATALOG_SEED}", lambda d: build_catalog(d, CATALOG_SEED))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def later(ts: str, seconds: int) -> str:
    """ISO-8601 ``Z`` timestamp shifted by ``seconds``."""
    t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ") + timedelta(seconds=seconds)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")
