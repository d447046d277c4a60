"""Independent expected results for the Spark workloads, from DuckDB over
the generated parquet inputs.

`check(workload, data_dir, script, probes, corrupt)` returns a list of
{"name", "ok", "detail"} checks comparing what the program produced
(`probes`, written by the driver JVM) with what DuckDB computes. Counts,
keys and strings must match exactly; floating-point sums to a relative
tolerance of REL_TOL. With `corrupt` every expected result is perturbed
first, so every check must fail (the benchmark's self-test uses this).
"""
import json
import math
import os

import duckdb

REL_TOL = 1e-9
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if _num(a) and _num(b):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
            return abs(a - b) <= REL_TOL * max(abs(a), abs(b)) + 1e-9
        return int(a) == int(b)
    return str(a) == str(b)


def _plain(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if _num(v):
        return v
    if v is None:
        return None
    try:
        return float(v)  # Decimal / HUGEINT
    except (TypeError, ValueError):
        return str(v)


def _rows(cur_rows):
    return [[_plain(v) for v in r] for r in cur_rows]


def _corrupt(rows):
    if not rows:
        return [[1]]
    out = [list(r) for r in rows]
    for i, v in enumerate(out[0]):
        if _num(v):
            out[0][i] = v + 1
            return out
    out[0][0] = str(out[0][0]) + "x"
    return out


def compare(name, got, want, corrupt, ordered=False, exact=False):
    """Rows equal as multisets (as sequences if `ordered`); values equal
    up to REL_TOL for floats, or exactly if `exact`."""
    if corrupt:
        want = _corrupt(want)
    if not ordered:
        key = lambda r: json.dumps(r, default=str)
        got, want = sorted(got, key=key), sorted(want, key=key)
    same = (lambda x, y: x == y) if exact else _same
    if len(got) != len(want):
        return {"name": name, "ok": False,
                "detail": f"{len(got)} rows, expected {len(want)}"}
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(same(x, y) for x, y in zip(g, w)):
            return {"name": name, "ok": False, "detail": f"row {i}: got {g}, expected {w}"}
    return {"name": name, "ok": True, "detail": f"{len(got)} rows"}


def _con(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW raw_{t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_dml(data_dir, script, probes, corrupt):
    con = _con(data_dir)
    for t in script["tables"]:
        con.execute(f"CREATE TABLE {t} AS SELECT o_orderkey, o_custkey, o_orderstatus, "
                    "o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
                    "FROM raw_orders")
    out, ryw, i = [], probes.get("ryw", []), 0
    mismatches = []
    mv_sql = {p["name"]: p["duck"] for p in script["final"] if p.get("mv")}
    mv_state = {mv: _rows(con.execute(q).fetchall()) for mv, q in mv_sql.items()}
    for st in script["statements"]:
        for q in st["duck"]:
            con.execute(q)
        if st["kind"] == "mv_refresh":
            mv_state[st["table"]] = _rows(con.execute(mv_sql[st["table"]]).fetchall())
        for r in st.get("reads", []):
            want = _rows(con.execute(r["duck"]).fetchall())
            got = ryw[i] if i < len(ryw) else []
            c = compare(f"dml_stream.read_your_write[{i}]", got, want, corrupt)
            if not c["ok"]:
                mismatches.append(c)
            i += 1
    out.append({"name": "dml_stream.read_your_write", "ok": not mismatches and i == len(ryw),
                "detail": f"{i} reads" if not mismatches else mismatches[0]["detail"]})
    for p in script["final"]:
        want = mv_state[p["name"]] if p.get("mv") else _rows(con.execute(p["duck"]).fetchall())
        out.append(compare(f"dml_stream.final.{p['name']}", probes["final"].get(p["name"], []),
                           want, corrupt))
    return out


def check_scan(data_dir, script, probes, corrupt):
    con = _con(data_dir)
    keep = " AND ".join(f"NOT ({d})" for d in script["deletes"])
    con.execute("CREATE VIEW li_raw AS SELECT * REPLACE (CAST(l_shipdate AS DATE) AS l_shipdate) "
                "FROM raw_lineitem")
    con.execute(f"CREATE VIEW li_final AS SELECT * FROM li_raw WHERE {keep}")
    mid = script["bounds"][script["tag_after"]]
    con.execute(f"CREATE VIEW li_mid AS SELECT * FROM li_raw WHERE l_shipdate < DATE '{mid}'")
    con.execute("CREATE VIEW orders_v AS SELECT * REPLACE (CAST(o_orderdate AS DATE) AS "
                "o_orderdate) FROM raw_orders")
    con.execute("CREATE VIEW files_v AS SELECT count(*) AS record_count, "
                "'/data/all' AS file_path FROM li_raw")
    out = []
    for q in script["queries"]:
        sql = (q["sql"].replace("{li_mid}", "li_mid").replace("{li}", "li_final")
               .replace("{orders}", "orders_v").replace("{files}", "files_v"))
        want = _rows(con.execute(sql).fetchall())
        out.append(compare(f"scan_queries.{q['name']}", probes["queries"].get(q["name"], []),
                           want, corrupt))
    return out


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    if len(df) and df.shape[1]:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cell(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    try:
        import pandas as pd
        if not isinstance(v, (list, str)) and pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def check_pipeline(data_dir, probes, corrupt):
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for name, q in sorted(probes["queries"].items()):
        want = _norm(con.execute(q["oracle_sql"]).fetchdf())
        files = [os.path.join(q["out_dir"], f) for f in os.listdir(q["out_dir"])
                 if f.endswith(".parquet")]
        got = _norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                    if files else pd.DataFrame())
        if list(got.columns) != list(want.columns):
            out.append({"name": f"pipeline_queries.{name}", "ok": False,
                        "detail": f"columns {list(got.columns)} vs {list(want.columns)}"})
            continue
        g = [[_cell(v) for v in r] for r in got.itertuples(index=False)]
        w = [[_cell(v) for v in r] for r in want.itertuples(index=False)]
        # exact, as in the repository's own oracle gate; both sides sorted
        out.append(compare(f"pipeline_queries.{name}", g, w, corrupt, ordered=True, exact=True))
    return out


def check(workload, data_dir, script, probes, corrupt):
    if workload == "dml_stream":
        return check_dml(data_dir, script, probes, corrupt)
    if workload == "scan_queries":
        return check_scan(data_dir, script, probes, corrupt)
    if workload == "pipeline_queries":
        return check_pipeline(data_dir, probes, corrupt)
    return []
