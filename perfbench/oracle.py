"""Output checks of the benchmark, run after the timed phase.

* Query workloads: each operation's collected result against its
  `SparkEntry.oracleSql` / `dynamicOracleSql` run in DuckDB on the generated
  directory. The comparison is the repo's oracle normalisation: columns
  sorted by name, rows sorted, dtype kinds equal, floats within 1e-9.
* dba_lifecycle: an independent DuckDB replay of the operation script. Every
  read, delete and change feed is compared with the replayed state of its
  cycle, and both final snapshots with the replay and with each other.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        tz = getattr(s.dtype, "tz", None)
        return f"datetime[tz={tz}]" if tz is not None else "datetime"
    return str(s.dtype)


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    g, w = _norm(got.copy()), _norm(want.copy())
    if list(g.columns) != list(w.columns):
        return f"schema got={list(g.columns)} want={list(w.columns)}"
    bad = [c for c in g.columns if _kind(g[c]) != _kind(w[c])]
    if bad:
        return "dtype " + "; ".join(f"{c}: {g[c].dtype} vs {w[c].dtype}" for c in bad)
    if len(g) != len(w):
        return f"rows got={len(g)} want={len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            eq = ((a - b).abs() < 1e-9) | (a.isna() & b.isna())
        else:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"value {c}[{i}]: got={a[i]!r} want={b[i]!r}"
    return None


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(inputs, out, oracles, names):
    """name → None (match) or a reason, for every name that has a result."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    status = {}
    for name in names:
        got = read_result(os.path.join(out, "results", name))
        if got is None:
            status[name] = "no result written"
        elif name not in oracles:
            status[name] = None if len(got) > 0 else "no oracle and no rows"
        else:
            try:
                status[name] = compare(got, con.sql(oracles[name]).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                status[name] = f"oracle error: {e}"
    con.close()
    return status


# ---------------------------------------------------------------- lifecycle
ROW_ORDER = ("l_partkey DESC, l_suppkey DESC, l_quantity DESC, "
             "l_extendedprice DESC, l_discount DESC, l_tax DESC, "
             "l_returnflag DESC, l_linestatus DESC, l_shipdate DESC")
KEY_JOIN = "t.l_orderkey = k.l_orderkey AND t.l_linenumber = k.l_linenumber"


class Replay:
    """The lifecycle script replayed in DuckDB: state after each cycle.

    Upsert winners follow the documented merge rule — one row per key, the
    highest non-key columns in schema order — with no Spark involved.
    """

    def __init__(self, inputs, last_cycle):
        with open(os.path.join(inputs, "script.json")) as f:
            self.script = json.load(f)
        self.con = duckdb.connect()
        c = self.con
        c.execute("CREATE TABLE s0 AS SELECT * FROM read_parquet(?)",
                  [os.path.join(inputs, self.script["base"])])
        self.deleted = {}
        for step in self.script["cycles"][:last_cycle]:
            n = step["cycle"]
            c.execute(f"CREATE TABLE s{n} AS SELECT * FROM s{n - 1}")
            c.execute(f"""CREATE TEMP TABLE w AS SELECT * FROM read_parquet(?)
                          QUALIFY row_number() OVER (
                            PARTITION BY l_orderkey, l_linenumber
                            ORDER BY {ROW_ORDER}) = 1""",
                      [os.path.join(inputs, step["batch"])])
            c.execute(f"DELETE FROM s{n} t USING w k WHERE {KEY_JOIN}")
            c.execute(f"INSERT INTO s{n} SELECT * FROM w")
            c.execute("DROP TABLE w")
            c.execute("CREATE TEMP TABLE k AS SELECT * FROM read_parquet(?)",
                      [os.path.join(inputs, step["deletes"])])
            self.deleted[n] = c.execute(
                f"SELECT count(*) FROM s{n} t SEMI JOIN k ON {KEY_JOIN}").fetchone()[0]
            c.execute(f"DELETE FROM s{n} t USING k WHERE {KEY_JOIN}")
            c.execute("DROP TABLE k")

    def aggregate(self, cycle, lo=None, hi=None):
        where = "" if lo is None else f"WHERE l_orderkey BETWEEN {int(lo)} AND {int(hi)}"
        n, q, p = self.con.execute(
            f"SELECT count(*), coalesce(sum(l_quantity), 0), "
            f"coalesce(sum(l_extendedprice), 0) FROM s{cycle} {where}").fetchone()
        return {"count": n, "sum_qty": float(q), "sum_price": float(p)}

    def changes(self, c_from, c_to):
        """Net diff between two states, in the change-feed vocabulary."""
        old, new = f"s{c_from}", f"s{c_to}"
        k = "l_orderkey, l_linenumber"
        ins = self.con.execute(f"SELECT count(*) FROM (SELECT {k} FROM {new} EXCEPT SELECT {k} FROM {old})").fetchone()[0]
        dele = self.con.execute(f"SELECT count(*) FROM (SELECT {k} FROM {old} EXCEPT SELECT {k} FROM {new})").fetchone()[0]
        upd = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {new} EXCEPT SELECT * FROM {old}) n "
            f"SEMI JOIN {old} o ON n.l_orderkey = o.l_orderkey AND n.l_linenumber = o.l_linenumber").fetchone()[0]
        return {"n_insert": ins, "n_delete": dele,
                "n_update_preimage": upd, "n_update_postimage": upd}

    def state(self, cycle):
        return self.con.execute(f"SELECT * FROM s{cycle}").df()


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_lifecycle(inputs, out, ops, last_cycle):
    """(per-op reasons keyed by op seq, global check reasons)."""
    rp = Replay(inputs, last_cycle)
    per_op = {}
    for o in ops:
        if not o["ok"]:
            continue
        info, c, why = o["info"], o["cycle"], None
        if o["kind"] == "delete":
            if info["rows_deleted"] != rp.deleted[c]:
                why = f"rows_deleted {info['rows_deleted']} want {rp.deleted[c]}"
        elif o["kind"] in ("read_where", "time_travel"):
            want = (rp.aggregate(c, info["lo"], info["hi"]) if o["kind"] == "read_where"
                    else rp.aggregate(info["as_of_cycle"]))
            if info["count"] != want["count"] or not all(
                    _close(info[k], want[k]) for k in ("sum_qty", "sum_price")):
                why = f"got {[info[k] for k in want]} want {list(want.values())}"
        elif o["kind"] == "changes":
            want = rp.changes(info["from_cycle"], c)
            got = {k: info.get(k, 0) for k in want}
            if got != want:
                why = f"got {got} want {want}"
        per_op[o["seq"]] = why
    final = rp.state(last_cycle)
    glob_checks = {}
    snaps = {f: read_result(os.path.join(out, f"final_{f}")) for f in ("delta", "iceberg")}
    for f, df in snaps.items():
        glob_checks[f"final_{f}_vs_replay"] = (
            "no snapshot written" if df is None else compare(df, final))
    if all(df is not None for df in snaps.values()):
        glob_checks["final_delta_vs_iceberg"] = compare(snaps["delta"], snaps["iceberg"])
    return per_op, glob_checks
