"""Output checks, run after the measured window.

Suites: the pass's queries are dumped in graft.Verify's layout and handed
to tools/oracle_check.py, unchanged, for the DuckDB oracle compare.

Snapshot cycle: every lookup, as-of restore and fresh-session read is
compared against the same question asked of the generated inputs in
DuckDB (base tables plus the deltas up to the cycle in question).
"""
import datetime
import re
import subprocess
import sys
from pathlib import Path

import duckdb

import gen


def oracle(checkout, data, verify_dir, names):
    """Names of the queries the oracle check fails, plus its output tail."""
    r = subprocess.run([sys.executable, str(Path(checkout) / "tools/oracle_check.py"),
                        str(data), str(verify_dir)] + list(names),
                       capture_output=True, text=True, timeout=120)
    failed = set(re.findall(r"^FAIL (\S+):", r.stdout, re.M))
    if r.returncode != 0 and not failed:
        failed = set(names)  # the checker itself broke: nothing is certified
    return failed, r.stdout[-2000:] + r.stderr[-1000:]


DIGEST = """count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey), sum(l_linenumber),
  sum(round(l_quantity * 100)::BIGINT), sum(round(l_extendedprice * 100)::BIGINT),
  sum(round(l_discount * 100)::BIGINT), sum(round(l_tax * 100)::BIGINT),
  sum(ascii(l_returnflag)), sum(ascii(l_linestatus)),
  sum(datediff('day', DATE '1995-01-01', l_shipdate::DATE))"""


class Model:
    """The tables as of cycle c, from the generated inputs."""

    def __init__(self, data, snap, sf):
        self.sf = sf
        self.con = duckdb.connect()
        for t in ("lineitem", "orders"):
            self.con.execute(f"CREATE VIEW {t}_base AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            self.con.execute(f"CREATE VIEW {t}_delta AS SELECT * FROM read_parquet('{snap}/delta_{t}.parquet')")
        self.rows = {t: self.one(f"SELECT count(*) FROM read_parquet('{data}/{t}.parquet')")[0]
                     for t in gen.TABLES}

    def lineitem(self, c):
        return f"(SELECT * FROM lineitem_base UNION ALL SELECT * EXCLUDE (cycle) FROM lineitem_delta WHERE cycle <= {c})"

    def orders(self, c):
        return f"""(SELECT * EXCLUDE (cycle, rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY cycle DESC) rn FROM (
              SELECT *, 0 AS cycle FROM orders_base
              UNION ALL SELECT * FROM orders_delta WHERE cycle <= {c})) WHERE rn = 1)"""

    def one(self, sql):
        return list(self.con.execute(sql).fetchone())

    def digest(self, c):
        return self.one(f"SELECT {DIGEST} FROM {self.lineitem(c)}")

    def point(self, c, key):
        rows = self.con.execute(f"SELECT * FROM {self.lineitem(c)} WHERE l_orderkey = {key}").fetchall()
        return sorted(tuple(norm(v) for v in r) for r in rows)

    def range(self, c, lo, hi):
        return self.one(f"""SELECT count(*), sum(o_orderkey), sum(o_custkey),
            sum(round(o_totalprice * 100)::BIGINT) FROM {self.orders(c)}
            WHERE o_orderkey >= {lo} AND o_orderkey < {hi}""")

    def footer(self, c):
        return self.one(f"SELECT count(*), min(l_orderkey), max(l_orderkey) FROM {self.lineitem(c)}")

    def table_rows(self, c):
        rows = dict(self.rows)
        rows["lineitem"] += gen.delta_rows(self.sf, "lineitem") * c
        rows["events"] += gen.delta_rows(self.sf, "events") * c
        return rows


def norm(v):
    """Spark renders timestamps as ISO strings; DuckDB returns datetimes."""
    if isinstance(v, str):
        try:
            return datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
    return v


def same(got, want):
    """Aggregate rows compare as exact integers (DuckDB may widen to int128)."""
    return [None if v is None else int(v) for v in got] == \
           [None if v is None else int(v) for v in want]


def snapshot(data, snap, sf, res):
    """Ids of failed ops and a list of failure descriptions."""
    model = Model(data, snap, sf)
    failed, why = set(), []
    for op in res["ops"]:
        if not op.get("ok") or "result" not in op or op["kind"] not in ("lookup", "restore"):
            continue
        c, got = op["cycle"], op["result"]
        if op["kind"] == "restore":
            want = model.digest(op["target"])
        elif op["name"] == "point":
            want = model.point(c, op["key"])
            got = sorted(tuple(norm(v) for v in r) for r in got)
        elif op["name"] == "range":
            want = model.range(c, op["lo"], op["hi"])
        else:
            want = model.footer(c)
        ok = got == want if op["name"] == "point" else same(got, want)
        if not ok:
            failed.add(op["id"])
            why.append(f"{op['kind']} {op['name']} cycle {c}: got {str(got)[:200]} want {str(want)[:200]}")
    cycles = res["cycles"]
    kept = res.get("kept", {})
    newest = {gen.tag(c) for c in range(max(0, cycles - 2), cycles + 1)}
    if not newest <= set(kept):
        why.append(f"retain dropped a newest tag: kept {sorted(kept)}")
        failed.add("kept")
    check_ops = {op["name"]: op["id"] for op in res["ops"] if op["kind"] == "check"}
    for tag, got in kept.items():
        c = next((i for i in range(cycles + 1) if gen.tag(i) == tag), None)
        if c is None:
            why.append(f"unexpected tag {tag}")
            failed.add(check_ops.get(tag, tag))
            continue
        if got["rows"] != model.table_rows(c) or not same(got["lineitem"], model.digest(c)):
            why.append(f"tag {tag}: rows {got['rows']} lineitem {got['lineitem']}")
            failed.add(check_ops.get(tag, tag))
    return failed, why
