#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the declared DuckDB oracle SQL over the
same sf tables and compare (column-name-sorted, row-sorted, exact values).
The queries are compared in a pool of one process per core, each with its
own DuckDB connection; the result lines print in sorted query order.

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os, multiprocessing
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    # sort columns by name, then rows; floats normalized via repr
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out

def norm(v):
    import decimal, datetime
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def family(t):
    """Collapse a DuckDB type to the equivalence class the DRIVER's hash
    canonicalizer actually distinguishes. Calibrated against r6 driver
    results: int32 vs int64 hash EQUAL (16 green queries emit Spark
    INTEGER where the oracle emits BIGINT), but HUGEINT hash-FAILS
    against BIGINT (p08 — an uncast sum() converts to a different Python
    type downstream). So: machine ints are one family; HUGEINT, DECIMAL,
    and floats are each their own."""
    t = str(t)
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("STRUCT") or t.endswith("[]"):
        return t  # compare nested/list types verbatim
    return {
        "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int",
        "BIGINT": "int", "UTINYINT": "int", "USMALLINT": "int",
        "UINTEGER": "int", "UBIGINT": "int",
        "FLOAT": "float", "DOUBLE": "float",
    }.get(t, t)

def typed(rel):
    """(cols, rows, name->type-family). The family check catches the r6
    p08 class of bug (uncast DuckDB sum() → HUGEINT) that value-only
    comparison misses, without flagging int-width noise the driver
    provably tolerates."""
    cols = list(rel.columns)
    types = {c: family(t) for c, t in zip(cols, rel.types)}
    return cols, rel.fetchall(), types

_con = None
_oracle = None

def init_worker(sf_dir, out_dir):
    """Open this worker's one DuckDB connection over the sf tables."""
    global _con, _oracle
    _con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            _con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    _oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def check(d):
    """Compare one result dir with its oracle: (outcome, result line)."""
    name = os.path.basename(d)
    gcols, grows, gtypes = typed(_con.sql(f"SELECT * FROM '{d}/*.parquet'"))
    if name not in _oracle:
        return "no-oracle", f"  [no-oracle] {name}: {len(grows)} rows"
    try:
        ecols, erows, etypes = typed(_con.sql(_oracle[name]))
    except Exception as e:
        return "fail", f"  [FAIL-sql ] {name}: oracle SQL error: {e}"
    gc, gv = canon(grows, gcols)
    ec, ev = canon(erows, ecols)
    tdiff = {c: (gtypes.get(c), etypes.get(c)) for c in set(gcols) | set(ecols)
             if gtypes.get(c) != etypes.get(c)}
    if gc != ec:
        return "fail", f"  [FAIL-cols] {name}: spark={gc} duckdb={ec}"
    if tdiff:
        return "fail", f"  [FAIL-type] {name}: col->(spark,duckdb) = {tdiff}"
    if gv != ev:
        diff = [(a, b) for a, b in zip(gv, ev) if a != b][:3]
        extra = f" rowcount spark={len(gv)} duckdb={len(ev)}"
        return "fail", f"  [FAIL-vals] {name}:{extra} first diffs: {diff}"
    return "pass", f"  [ok       ] {name}: {len(gv)} rows"

def main(sf_dir, out_dir):
    result_dirs = sorted(d for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d))
    counts = {"pass": 0, "fail": 0, "no-oracle": 0}
    # one process per core, each with its own connection; imap keeps the
    # sorted order of the result lines
    with multiprocessing.Pool(os.cpu_count(), init_worker,
                              (sf_dir, out_dir)) as pool:
        for outcome, line in pool.imap(check, result_dirs):
            counts[outcome] += 1
            print(line, flush=True)
    print(f"PASS={counts['pass']} FAIL={counts['fail']} "
          f"NO_ORACLE={counts['no-oracle']}")
    sys.exit(1 if counts["fail"] else 0)

def selftest():
    """Regression guard for the r6 p08 class of bug: an uncast DuckDB
    window/agg sum() returns HUGEINT where Spark parquet holds BIGINT —
    values identical, widths different. The type check must FAIL it."""
    import tempfile
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as td:
        con.execute(f"COPY (SELECT CAST(10 AS BIGINT) AS s) TO '{td}/r.parquet'")
        got = typed(con.sql(f"SELECT * FROM '{td}/r.parquet'"))
        bad = typed(con.sql("SELECT sum(x) AS s FROM (SELECT CAST(10 AS BIGINT) x)"))
        ok = typed(con.sql(
            "SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT CAST(10 AS BIGINT) x)"))
    assert got[1] == bad[1] == ok[1], "values should all be equal"
    assert got[2] != bad[2], f"uncast HUGEINT must be flagged: {got[2]} vs {bad[2]}"
    assert got[2] == ok[2], f"cast BIGINT must pass: {got[2]} vs {ok[2]}"
    print("selftest ok: HUGEINT-vs-BIGINT caught, cast version passes")

if __name__ == "__main__":
    if sys.argv[1:2] == ["--selftest"]:
        selftest()
    else:
        main(sys.argv[1], sys.argv[2])
