"""Seeded input generator for the lakehouse benchmark.

Writes TPC-H-like tables (plus the `events`, `documents` and `embeddings`
tables the pipeline queries read) as parquet, one file per table, and the
seeded statement and query scripts of the Spark workloads. It shares no code
with the program under test: the program only ever sees these files.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import json
import os
import sys
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark table column row key value query scan filter join group agg "
         "sort hash merge order customer part line stream window batch vector fast slow "
         "big small").split()
LANGS = ["en", "de", "fr", "es", "zh"]
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY0 = np.datetime64("1995-01-01", "us")
SHIP_DAYS = 730


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, lo, hi, n):
    return (DAY0 + rng.integers(lo, hi, n).astype("timedelta64[D]")).astype("datetime64[us]")


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": np.array([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": _money(rng, 900, 2100, n_part)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 850, 500000, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        # two years of ship dates: ~24 month partitions in scan_queries
        "l_shipdate": _days(rng, 1, SHIP_DAYS, n_line)})
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        rng.integers(1, 60_000_000, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, n_ev // 50), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 100))]))
    # about 2% exact and 2% near duplicates, so the dedup families find work
    for i in rng.choice(n_doc, n_doc // 25, replace=False):
        src = texts[int(rng.integers(0, n_doc))]
        if i % 2:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            src = " ".join(words)
        texts[i] = src
    langs = np.array(LANGS)[np.minimum(rng.geometric(0.45, n_doc) - 1, 4)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 5}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return out


# ---------------------------------------------------------------- dml_stream

def _row_exprs(dialect, salt):
    """Deterministic column expressions of a generated orders row keyed by
    `id`; identical values in Spark SQL and DuckDB."""
    def case(values, mod):
        arms = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(values[:-1]))
        return f"CASE (id + {salt}) % {mod} {arms} ELSE '{values[-1]}' END"
    if dialect == "spark":
        day = f"date_add(DATE '1995-01-01', CAST((id * 31 + {salt}) % 2400 AS INT))"
    else:
        day = f"(DATE '1995-01-01' + CAST((id * 31 + {salt}) % 2400 AS INTEGER))"
    return (f"id AS o_orderkey, (id * 7919 + {salt}) % 15000 AS o_custkey, "
            f"{case(STATUS, 3)} AS o_orderstatus, "
            f"CAST((id * 104729 + {salt} * 13) % 50000000 AS DOUBLE) / 100 AS o_totalprice, "
            f"{day} AS o_orderdate, {case(PRIORITY, 5)} AS o_orderpriority")


def _source(dialect, a, b, salt):
    """Generated rows for keys [a, b); Spark's range() names its column
    `id`, DuckDB's `range`."""
    if dialect == "spark":
        return f"SELECT {_row_exprs('spark', salt)} FROM range({a}, {b})"
    return f"SELECT {_row_exprs('duck', salt)} FROM (SELECT range AS id FROM range({a}, {b})) r"


# the select list of each table's aggregate MV, grouped by o_orderstatus
MV_SQL = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total"


def _maintenance(table):
    """The refresh of a table's aggregate MV, then its maintenance cycle.
    The MV is refreshed before its source's snapshots are expired: a
    refresh whose changelog checkpoint snapshot was expired fails with
    SnapshotNotFound (a known defect, see README.md)."""
    mv = "mv_" + table.split("_")[1]
    whole = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS p FROM "
    return [
        {"kind": "mv_refresh", "table": mv, "spark": [
            f"CALL {{cat}}.system.refresh_materialized_view(table => 'db.{mv}')"],
         "duck": [], "reads": [{
             "spark": f"SELECT o_orderstatus, n, total FROM {{cat}}.db.{mv}",
             "duck": f"{MV_SQL} FROM {table} GROUP BY o_orderstatus"}]},
        {"kind": "maintenance", "table": table, "spark": [
            f"CALL {{cat}}.system.rewrite_data_files(table => 'db.{table}')",
            f"CALL {{cat}}.system.expire_snapshots(table => 'db.{table}', "
            "older_than_ms => 9999999999999, retain_last => 3)"], "duck": [],
         "reads": [{"spark": f"{whole}{{cat}}.db.{table} GROUP BY o_orderstatus",
                    "duck": f"{whole}{table} GROUP BY o_orderstatus"}]}]


def dml_script(seed, sf, writes):
    """The seeded write sequence: small-batch INSERT / MERGE / UPDATE /
    DELETE (0.2-0.8% of the table), each followed by a read-your-write
    query, and in every five slots an MV refresh plus a maintenance cycle
    on each of the two tables (third slot, so a short run has one). The
    statement mix and the tables it alternates between are fixed; the seed
    draws key ranges, batch sizes and values, so runs on different seeds do
    the same kinds of work."""
    rng = np.random.default_rng(seed * 7 + 3)
    n0 = max(1000, int(1_500_000 * sf))
    next_key = {"orders_cow": n0, "orders_mor": n0}
    stmts = []
    kinds = ["insert", "merge", "update", "delete"]
    tables = ["orders_cow", "orders_mor"]
    for i in range(writes):
        if i % 5 == 2:
            for table in tables:
                stmts += _maintenance(table)
            continue
        # slot -> table in even cycles; odd cycles swap the two tables
        table = tables[[0, 1, None, 0, 1][i % 5] ^ (i // 5 % 2)]
        kind = kinds[[0, 1, None, 2, 3][i % 5]]
        n = int(n0 * rng.uniform(0.002, 0.008))
        salt = int(rng.integers(1, 1_000_000))
        t = f"{{cat}}.db.{table}"
        if kind == "insert":
            a, b = next_key[table], next_key[table] + n
            next_key[table] = b
            spark = [f"INSERT INTO {t} {_source('spark', a, b, salt)}"]
            duck = [f"INSERT INTO {table} {_source('duck', a, b, salt)}"]
        elif kind == "merge":
            a = int(rng.integers(0, next_key[table] - n // 2))
            b = a + n
            next_key[table] = max(next_key[table], b)
            spark = [f"MERGE INTO {t} t USING ({_source('spark', a, b, salt)}) s "
                     "ON t.o_orderkey = s.o_orderkey "
                     "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"]
            duck = [f"DELETE FROM {table} WHERE o_orderkey >= {a} AND o_orderkey < {b}",
                    f"INSERT INTO {table} {_source('duck', a, b, salt)}"]
        elif kind == "update":
            a = int(rng.integers(0, next_key[table] - n))
            b = a + n
            upd = (f"SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'F' "
                   f"WHERE o_orderkey >= {a} AND o_orderkey < {b}")
            spark = [f"UPDATE {t} {upd}"]
            duck = [f"UPDATE {table} {upd}"]
        else:
            a = int(rng.integers(0, next_key[table] - n))
            b = a + n
            # a key list is equality-shaped, so the merge-on-read table
            # commits an equality-delete file; a range rewrites files
            if table == "orders_cow":
                cond = f"o_orderkey >= {a} AND o_orderkey < {b}"
            else:
                keys = sorted(set(int(k) for k in rng.integers(a, b, max(1, n // 4))))
                a, b = keys[0], keys[-1] + 1
                cond = f"o_orderkey IN ({', '.join(map(str, keys))})"
            spark = [f"DELETE FROM {t} WHERE {cond}"]
            duck = [f"DELETE FROM {table} WHERE {cond}"]
        # read-your-write: the changed key range, then the whole table
        reads = ["SELECT count(*) AS n, sum(o_orderkey) AS k, sum(o_totalprice) AS p "
                 "FROM {t} WHERE o_orderkey >= %d AND o_orderkey < %d" % (a, b),
                 "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS p "
                 "FROM {t} GROUP BY o_orderstatus"]
        stmts.append({"kind": kind, "table": table, "spark": spark, "duck": duck,
                      "reads": [{"spark": r.replace("{t}", t), "duck": r.replace("{t}", table)}
                                for r in reads]})
    final = []
    for table in ["orders_cow", "orders_mor"]:
        agg = ("SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nk, sum(o_orderkey) AS k, "
               "sum((o_orderkey * 2654435761) % 1000000007) AS kh, sum(o_custkey) AS c, "
               "sum(o_totalprice) AS p, "
               "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS nf, "
               "sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS nu, "
               "sum(day(o_orderdate)) AS dd, sum(month(o_orderdate)) AS dm FROM ")
        final.append({"name": table, "spark": agg + f"{{cat}}.db.{table}", "duck": agg + table})
        mv = "mv_" + table.split("_")[1]
        # an MV holds its source's state as of its last refresh
        final.append({"name": mv, "mv": True,
                      "spark": f"SELECT o_orderstatus, n, total FROM {{cat}}.db.{mv}",
                      "duck": f"{MV_SQL} FROM {table} GROUP BY o_orderstatus"})
    return {"tables": tables, "mv_select": MV_SQL, "statements": stmts, "final": final}


# -------------------------------------------------------------- scan_queries

# Each append covers a date range and writes one manifest shard per month
# it touches, so even a few appends leave the snapshot referencing one
# shard per month partition (24 over the two years of ship dates).
SCAN_APPENDS = 2


def _month(d, k):
    m = d.month - 1 + k
    return date(d.year + m // 12, m % 12 + 1, 1)


def scan_script(seed, sf):
    """Load plan (date-ranged appends, a tag after half of them, two
    merge-on-read key deletes) and the fixed query set with seeded
    parameters, each in Spark SQL and in DuckDB SQL."""
    rng = np.random.default_rng(seed * 11 + 5)
    lo = date(1995, 1, 1)
    hi = lo + timedelta(days=SHIP_DAYS)
    step = (hi - lo).days / SCAN_APPENDS
    bounds = [lo + timedelta(days=round(i * step)) for i in range(SCAN_APPENDS)] + [hi]
    n_ord = max(1000, int(1_500_000 * sf))
    n_part = max(100, int(200_000 * sf))
    del_orders = sorted(set(int(k) for k in rng.integers(0, n_ord, 150)))
    del_parts = sorted(set(int(k) for k in rng.integers(0, n_part, 40)))
    deletes = [f"l_orderkey IN ({', '.join(map(str, del_orders))})",
               f"l_partkey IN ({', '.join(map(str, del_parts))})"]
    m0 = _month(lo, int(rng.integers(0, 23)))
    d1 = lo + timedelta(days=int(rng.integers(0, SHIP_DAYS - 20)))
    d2 = lo + timedelta(days=int(rng.integers(0, SHIP_DAYS - 40)))
    k0 = int(rng.integers(0, n_ord - 200))
    od = lo + timedelta(days=int(rng.integers(400, 2000)))
    q1_cut = lo + timedelta(days=SHIP_DAYS - 30)
    d3 = lo + timedelta(days=int(rng.integers(0, SHIP_DAYS - 10)))
    p0 = int(rng.integers(0, n_part - 60))
    li, lm = "{li}", "{li_mid}"
    q = [
        ("selective", "month_revenue",
         f"SELECT count(*) AS n, sum(l_extendedprice) AS rev FROM {li} "
         f"WHERE l_shipdate >= DATE '{m0}' AND l_shipdate < DATE '{_month(m0, 1)}'"),
        ("selective", "flag_window",
         f"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM {li} "
         f"WHERE l_shipdate BETWEEN DATE '{d1}' AND DATE '{d1 + timedelta(days=10)}' "
         "GROUP BY l_returnflag"),
        ("selective", "discount_revenue",
         f"SELECT count(*) AS n, sum(l_extendedprice * l_discount) AS rev FROM {li} "
         f"WHERE l_shipdate >= DATE '{d2}' AND l_shipdate < DATE '{d2 + timedelta(days=30)}' "
         "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
        ("selective", "order_range",
         f"SELECT count(*) AS n, sum(l_quantity) AS q FROM {li} "
         f"WHERE l_orderkey BETWEEN {k0} AND {k0 + 100}"),
        ("selective", "week_status",
         f"SELECT l_linestatus, count(*) AS n, sum(l_tax) AS tax FROM {li} "
         f"WHERE l_shipdate >= DATE '{d3}' AND l_shipdate < DATE '{d3 + timedelta(days=7)}' "
         "GROUP BY l_linestatus"),
        ("selective", "part_range",
         f"SELECT count(*) AS n, sum(l_extendedprice) AS rev FROM {li} "
         f"WHERE l_partkey BETWEEN {p0} AND {p0 + 50} AND l_shipdate < DATE '{_month(lo, 6)}'"),
        ("full", "pricing_summary",
         f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
         f"sum(l_extendedprice) AS base, sum(l_extendedprice * (1 - l_discount)) AS disc, "
         f"avg(l_discount) AS avg_disc FROM {li} WHERE l_shipdate <= DATE '{q1_cut}' "
         "GROUP BY l_returnflag, l_linestatus"),
        ("full", "priority_join",
         f"SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS rev "
         f"FROM {li} l JOIN {{orders}} o ON l.l_orderkey = o.o_orderkey "
         f"WHERE o.o_orderdate < DATE '{od}' GROUP BY o.o_orderpriority"),
        ("metadata", "count_all", f"SELECT count(*) AS n FROM {li}"),
        ("time_travel", "tag_mid",
         f"SELECT count(*) AS n, sum(l_quantity) AS q FROM {lm}"),
        ("metadata", "data_files",
         "SELECT sum(record_count) AS n FROM {files} WHERE file_path LIKE '%/data/%'"),
    ]
    return {"bounds": [str(b) for b in bounds], "tag_after": SCAN_APPENDS // 2,
            "deletes": deletes,
            "queries": [{"class": c, "name": n, "sql": s} for c, n, s in q]}


# -------------------------------------------------------------------- driver

def ensure(out_dir, seed, sf):
    """Writes the tables once per (seed, sf); idempotent."""
    out_dir = str(out_dir)
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "scan_script.json"), "w") as f:
        json.dump(scan_script(seed, sf), f, indent=1)
    open(done, "w").close()


def write_dml_script(out_dir, seed, sf, writes):
    path = os.path.join(str(out_dir), f"dml_script_{writes}.json")
    with open(path, "w") as f:
        json.dump(dml_script(seed, sf, writes), f, indent=1)
    return path


if __name__ == "__main__":
    ensure(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
