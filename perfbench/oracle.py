"""DuckDB oracle for the query-mix workload.

`oracle.json` holds, per query, the sorted column names, the row count
and a SHA-256 over the sorted canonical rows of the DuckDB oracle's
result on perfbench/testdata/sf0.01, in the canonical form of the
repository's tools/compare.py. It is computed once:

    python3 perfbench/oracle.py        # from the checkout root; needs duckdb

and each query-mix run compares the parquet results of its queries
against it with pyarrow alone.
"""
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE = os.path.join(HERE, "oracle.json")
TESTDATA = os.path.join(HERE, "testdata", "sf0.01")


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(table):
    """(sorted column names, row count, sha256 of the sorted canonical rows)."""
    cols = sorted(table.column_names)
    rows = sorted("\x1f".join(canon(r[c]) for c in cols)
                  for r in table.select(cols).to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return cols, len(rows), h.hexdigest()


def check(out_dir, report):
    """One check per query in `report` against oracle.json."""
    import pyarrow.parquet as pq
    with open(ORACLE) as f:
        want = json.load(f)
    names = sorted(k[:-len(".wall_s")] for k in report if k.endswith(".wall_s"))
    checks = []
    for name in names:
        err = None
        try:
            cols, n, sha = digest(pq.read_table(os.path.join(out_dir, name)))
            w = want[name]
            if cols != w["columns"]:
                err = f"columns {cols} != {w['columns']}"
            elif n != w["rows"]:
                err = f"{n} rows != {w['rows']}"
            elif sha != w["sha256"]:
                err = "row hash differs from the DuckDB oracle"
        except Exception as e:  # a missing or unreadable result is a failed check
            err = str(e)[:300]
        checks.append({"name": f"{name} matches its DuckDB oracle", "ok": err is None,
                       "detail": err or ""})
    return checks


def main():
    import duckdb
    sys.path.insert(0, HERE)
    import run
    root = os.getcwd()
    jar = run.build(root)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        os.makedirs(os.path.join(tmp, "tmp"))
        path = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(run.java_cmd(jar, tmp, "2g") + ["--oracle-sql", path], check=True,
                       cwd=tmp, stdout=subprocess.DEVNULL)
        with open(path) as f:
            sqls = json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(TESTDATA)):
        t = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{TESTDATA}/{f}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        cols, n, sha = digest(con.execute(sql).fetch_arrow_table())
        out[name] = {"columns": cols, "rows": n, "sha256": sha}
    with open(ORACLE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} oracles to {os.path.relpath(ORACLE)}")


if __name__ == "__main__":
    main()
