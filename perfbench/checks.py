"""Result checks, run after the harness exits (outside the timed path).

Every output is compared with DuckDB on the same parquet files:
- OLAP: each query's written result against its oracle SQL, which must
  return rows (an empty answer means the tables do not exercise the
  query);
- tenant-router: every read against the source tables, with the merges
  that preceded the read applied to o_totalprice;
- merges: the g_orders row count is unchanged and the decimal sum of
  o_totalprice rose by exactly 1.00 per matched row.
Each check returns the ids of the calls whose output was wrong or
missing.
"""
import os
from decimal import Decimal

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_diff(got, exp):
    """None when equal, else a short description. Column names, row count
    and exact values must agree; the only coercion allowed is a date that
    arrives as objects on one side and datetime64 on the other."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind != ev.dtype.kind and {gv.dtype.kind,
                                               ev.dtype.kind} == {"O", "M"}:
            gv, ev = pd.to_datetime(gv), pd.to_datetime(ev)
        if gv.dtype.kind != ev.dtype.kind:
            return f"{c}: dtype {gv.dtype} != {ev.dtype}"
        eq = ((gv.fillna("__N__") == ev.fillna("__N__")) if gv.dtype == object
              else ((gv == ev) | (gv.isna() & ev.isna())))
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[{i}]: {gv[i]!r} != {ev[i]!r}"
    return None


def check_olap(out, con, log):
    """Calls of every query whose checked result was wrong or missing."""
    bad_queries = set()
    for q in out["queries"]:
        path = os.path.join(out["result_dir"], q)
        sql = out["oracle_sql"].get(q)
        if sql is None:
            why = "no oracle SQL"
        elif not os.path.isdir(path):
            why = "missing output"
        else:
            try:
                exp = con.execute(sql).df()
                why = frame_diff(pd.read_parquet(path), exp) or (
                    "empty result" if exp.empty else None)
            except Exception as e:  # a broken oracle or unreadable output
                why = f"{type(e).__name__}: {e}"
        if why:
            log(f"check FAILED {q}: {why}")
            bad_queries.add(q)
    return {c["id"] for c in out["calls"] if c["name"] in bad_queries}


def _bumps(key, merges):
    return sum(1 for m in merges if m["lo"] <= key < m["hi"])


def _money(x):
    return round(float(x), 2)


def expected_read(con, kind, key, merges):
    """Rows the read should return after `merges`, as comparable tuples."""
    if kind == "lookup":
        rows = con.execute(
            "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice FROM lineitem WHERE l_orderkey = ?", [key]).fetchall()
        return sorted(tuple(r) for r in rows)
    if kind == "colocated_join":
        rows = con.execute(
            "SELECT o.o_orderkey, o.o_totalprice, count(*), sum(l.l_quantity) "
            "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            "WHERE o.o_orderkey = ? GROUP BY ALL", [key]).fetchall()
        return sorted((k, _money(p + _bumps(k, merges)), n, q)
                      for k, p, n, q in rows)
    if kind == "history":
        rows = con.execute(
            "SELECT o_orderkey, epoch_us(o_orderdate), o_totalprice FROM orders "
            "WHERE o_custkey = ? ORDER BY o_orderdate DESC, o_orderkey DESC "
            "LIMIT 10", [key]).fetchall()
        return [(k, d, _money(p + _bumps(k, merges))) for k, d, p in rows]
    raise ValueError(kind)


def got_read(kind, rows):
    if kind == "lookup":
        return sorted(tuple(r) for r in rows)
    if kind == "colocated_join":
        return sorted((k, _money(p), n, q) for k, p, n, q in rows)
    return [(k, d, _money(p)) for k, d, p in rows]


def check_tenant(out, con, log):
    """Ids of reads that returned wrong rows, plus every merge when the
    merge invariant does not hold."""
    bad = set()
    read_calls = {}
    for r in out["reads"]:
        read_calls[r["call"]] = r
        merges = out["merges"][:r["merges_before"]]
        exp = expected_read(con, r["kind"], r["key"], merges)
        got = got_read(r["kind"], r["rows"])
        if got != exp:
            log(f"check FAILED call {r['call']} {r['kind']}({r['key']}): "
                f"got {got[:3]} expected {exp[:3]}")
            bad.add(r["call"])
    for c in out["calls"]:
        if (c["kind"] not in ("merge", "setup") and c["ok"]
                and c["id"] not in read_calls):
            log(f"check FAILED call {c['id']} {c['kind']}: missing output")
            bad.add(c["id"])
    before, after = out["totals_before"], out["totals_after"]
    matched = sum(con.execute(
        "SELECT count(*) FROM orders WHERE o_orderkey >= ? AND o_orderkey < ?",
        [m["lo"], m["hi"]]).fetchone()[0] for m in out["merges"])
    rise = Decimal(after["sum"]) - Decimal(before["sum"])
    if after["rows"] != before["rows"] or rise != Decimal("1.00") * matched:
        log(f"check FAILED merge invariant: rows {before['rows']}->"
            f"{after['rows']}, sum rose {rise} for {matched} matched rows")
        bad |= {c["id"] for c in out["calls"] if c["kind"] == "merge"}
    return bad


def failed_calls(out, data_dir, log):
    """Ids of calls that threw or whose output was wrong or missing."""
    con = connect(data_dir)
    threw = {c["id"] for c in out["calls"] if not c["ok"]}
    if out["workload"] == "tenant-router":
        wrong = check_tenant(out, con, log)
    else:
        wrong = check_olap(out, con, log)
    return threw | wrong
