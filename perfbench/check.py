"""Output checks: the harness's results against DuckDB on the same parquet.

Statement and corpus-row results are compared through the canonical form
of scripts/oracle_check.py (columns by name, rows in result order, floats
bit-equal). Lookups and table calls are recomputed in DuckDB one by one.
Returns the names of wrong operations and the count of wrong single
results, plus a list of messages.
"""
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import oracle_check  # noqa: E402  (the repository's canonicalization)


def _duck(table_dir):
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(cur):
    cols = [c[0] for c in cur.description]
    return oracle_check.canon(cur.fetchall(), cols)


def statements(results, table_dir):
    """results: name -> {"dir", "oracle"}. Returns (wrong names, messages)."""
    con = _duck(table_dir)
    wrong, msgs = [], []
    for name, r in sorted(results.items()):
        try:
            dc, dr = _canon(con.execute(r["oracle"]))
            sc, sr = _canon(con.execute(
                f"SELECT * FROM read_parquet('{r['dir']}/*.parquet')"))
        except Exception as e:  # noqa: BLE001
            wrong.append(name)
            msgs.append(f"{name}: exception {e}")
            continue
        if dc != sc or dr != sr:
            wrong.append(name)
            msgs.append(f"{name}: differs from DuckDB (columns {sc} vs {dc}, "
                        f"rows {len(sr)} vs {len(dr)})")
    return wrong, msgs


def lookups(records, table_dir):
    con = _duck(table_dir)
    bad, msgs = 0, []
    for r in records:
        if r["until"] is None:
            where = f"l_shipdate = TIMESTAMP '{r['from']}'"
        else:
            where = (f"l_shipdate >= TIMESTAMP '{r['from']}' AND "
                     f"l_shipdate < TIMESTAMP '{r['until']}'")
        want = con.execute(
            "SELECT count(*), sum(l_quantity), min(l_orderkey), max(l_orderkey) "
            f"FROM lineitem WHERE {where}").fetchone()
        got = (r["n"], r["qty"], r["kmin"], r["kmax"])
        if tuple(want) != got:
            bad += 1
            msgs.append(f"lookup {where}: {got} vs DuckDB {tuple(want)}")
    return bad, msgs


def table_calls(records, table_dir):
    con = _duck(table_dir)
    bad, msgs = 0, []
    for r in records:
        t = r["table"]
        if r["call"] == "stats":
            want = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        else:
            want = [c[0] for c in con.execute(f"SELECT * FROM {t} LIMIT 0").description]
        if want != r["value"]:
            bad += 1
            msgs.append(f"{r['call']} {t}: {r['value']} vs DuckDB {want}")
    return bad, msgs


def scd(checks):
    """SCD invariants the harness evaluated: (all passed, messages)."""
    failed = [c for c in checks if not c["ok"]]
    return not failed, [f"{c['check']}: {c['detail']}" for c in failed]
