"""Seeded inputs for the benchmark.

The star-schema tables copy the shape of the repository's sf0.1 fixture
(column names, parquet physical types, value ranges, independent uniform
columns, one row group, snappy), so every gate and its DuckDB oracle run on
them unchanged. The same seed always writes the same bytes.

The load feed is the `orders` table. `load_poison` replaces a seeded 1% of
its rows with rows PostgreSQL rejects: half of them break a rule the catalog
states (NULL in a NOT NULL column, text longer than varchar(n)), half break a
CHECK the catalog does not describe (a negative price). None of them fails a
Spark-side cast. A seeded half of the keys is pre-loaded before every load,
so both the insert arm and the ON CONFLICT update arm fire.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
POISON_SHARE = 0.01
# The untimed warm-up load takes the feed's first rows: enough to compile
# and warm every path the timed loads take, split included.
WARMUP_ROWS = 30_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Target table of both load workloads. The CHECK is the rule the catalog
# cannot predict; NOT NULL and varchar(15) are the ones it can.
TABLE = "bench_orders"
TABLE_DDL = (
    f"CREATE TABLE {TABLE} ("
    "o_orderkey bigint PRIMARY KEY, "
    "o_custkey bigint NOT NULL, "
    "o_orderstatus varchar(1) NOT NULL, "
    "o_totalprice numeric(12,2) NOT NULL CHECK (o_totalprice >= 0), "
    "o_orderdate timestamp NOT NULL, "
    "o_orderpriority varchar(15) NOT NULL)")
BASE_PRICE_CENTS = 100  # price of every pre-loaded row


def _days(rng, n, first, last):
    span = (last - first).days + 1
    day0 = np.datetime64(first.isoformat(), "us")
    return day0 + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.integers(lo, hi + 1, n) / 100.0, 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _write(path, table):
    pq.write_table(table, path, compression="snappy", row_group_size=len(table) + 1)


def star_tables(seed):
    """The seven tables the relational gates read, keyed by file stem."""
    rng = np.random.default_rng([seed, 1])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    nat = np.arange(25)
    cust = np.arange(N_CUSTOMER)
    supp = np.arange(N_SUPPLIER)
    part = np.arange(N_PART)
    retail = 900 + (part % 1000) / 10.0
    lpart = rng.integers(0, N_PART, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(REGIONS, s)}),
        "nation": pa.table({
            "n_nationkey": pa.array(nat, i32),
            "n_name": pa.array([f"NATION_{k}" for k in nat], s),
            "n_regionkey": pa.array(nat % 5, i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(cust, i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in cust], s),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": pa.array(_cents(rng, N_CUSTOMER, -99999, 999999), f64),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, N_CUSTOMER), s)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp, i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in supp], s),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": pa.array(_cents(rng, N_SUPPLIER, -99999, 999999), f64)}),
        "part": pa.table({
            "p_partkey": pa.array(part, i64),
            "p_name": pa.array(_pick(rng, PART_ADJ, N_PART) + " " + _pick(rng, PART_NOUN, N_PART), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
            "p_type": pa.array(_pick(rng, PART_TYPES, N_PART), s),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": pa.array(retail, f64)}),
        "orders": orders(seed),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
            "l_partkey": pa.array(lpart, i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * retail[lpart], 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0, f64),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], N_LINEITEM), s),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], N_LINEITEM), s),
            "l_shipdate": pa.array(_days(rng, N_LINEITEM, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), ts)}),
    }


def orders(seed):
    rng = np.random.default_rng([seed, 2])
    n = N_ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n), pa.string()),
        "o_totalprice": pa.array(_cents(rng, n, 100000, 50000000), pa.float64()),
        "o_orderdate": pa.array(_days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n), pa.string())})


def write_star(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)


def write_feed(seed, poison, out_dir):
    """Write feed.parquet, its first WARMUP_ROWS rows as warmup.parquet, and
    base.csv; return what a load of either file must leave behind."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    t = orders(seed)
    n = t.num_rows
    keys = t.column("o_orderkey").to_numpy()
    price_cents = np.rint(t.column("o_totalprice").to_numpy() * 100).astype(np.int64)
    cust = t.column("o_custkey").to_numpy().astype(object)
    prio = t.column("o_orderpriority").to_numpy(zero_copy_only=False).astype(object)
    price = t.column("o_totalprice").to_numpy().copy()
    bad = np.zeros(n, dtype=bool)
    if poison:
        pos = rng.choice(n, size=int(n * POISON_SHARE), replace=False)
        null_cust, long_text, negative = np.array_split(pos, [len(pos) // 4, len(pos) // 2])
        cust[null_cust] = None
        prio[long_text] = "9-" + "X" * 20  # 22 characters into varchar(15)
        price[negative] = -price[negative]
        bad[pos] = True
    feed = t.set_column(1, "o_custkey", pa.array(cust, pa.int64())) \
        .set_column(3, "o_totalprice", pa.array(price, pa.float64())) \
        .set_column(5, "o_orderpriority", pa.array(prio, pa.string()))
    _write(os.path.join(out_dir, "feed.parquet"), feed)
    _write(os.path.join(out_dir, "warmup.parquet"), feed.slice(0, WARMUP_ROWS))

    base = np.sort(rng.permutation(keys)[: n // 2])
    with open(os.path.join(out_dir, "base.csv"), "w") as f:
        f.writelines(f"{k},0,X,{BASE_PRICE_CENTS / 100:.2f},2000-01-01 00:00:00,PRE\n" for k in base)
    in_base = np.zeros(n, dtype=bool)
    in_base[base] = True

    def after_load(sent):
        # Sent rows land unless poisoned; every other key keeps its base row.
        landed = sent & ~bad
        kept = in_base & ~landed
        cents = np.where(landed, price_cents, BASE_PRICE_CENTS)
        final = landed | kept
        return {
            "loaded": int(landed.sum()),
            "rejected": int((sent & bad).sum()),
            "digest": {
                "count": int(final.sum()),
                "key_sum": int(keys[final].sum()),
                "price_cents_sum": int(cents[final].sum()),
            },
        }

    warm = np.zeros(n, dtype=bool)
    warm[:WARMUP_ROWS] = True
    return {
        "feed": after_load(np.ones(n, dtype=bool)),
        "warmup": after_load(warm),
        "poison_keys": [int(k) for k in keys[bad]],
    }
