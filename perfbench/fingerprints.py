#!/usr/bin/env python3
"""Order-independent result fingerprints for the lifecycle and serve queries.

A fingerprint is the SHA-256 of a result's rows, each row rendered with its
columns sorted by name and the rows sorted, plus the column names and the
row count. Cells compare as in scripts/check.py: exact values, numbers
equal across int, float and decimal when Python's == says so, and NULL
distinct from NaN.

The reference in reference/fingerprints.json comes from the DuckDB oracle
SQL of each query (SparkEntry.oracleSql) over data/sf0.001. Rebuild it,
after building the benchmark once, with:

    python3 perfbench/fingerprints.py --update
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference", "fingerprints.json")
DATA = os.path.join(HERE, "data", "sf0.001")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if isinstance(v, (int, float, decimal.Decimal)):
        d = decimal.Decimal(v)
        return "n0" if d == 0 else "n" + str(d.normalize())
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta)):
        return "d" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{json.dumps(str(k))}:{canon(v[k])}"
                              for k in sorted(v, key=str)) + "}"
    return "r" + repr(v)


def fingerprint(relation):
    """Fingerprint of a DuckDB relation."""
    cols = relation.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order)
                  for r in relation.fetchall())
    h = hashlib.sha256()
    h.update("\x1f".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def of_results(results_dir, names):
    """Fingerprints of the parquet results a run wrote, by query name."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for n in names:
        files = glob.glob(os.path.join(results_dir, n, "*.parquet"))
        if not files:
            out[n] = None
            continue
        out[n] = fingerprint(con.sql(
            f"SELECT * FROM read_parquet('{os.path.join(results_dir, n)}/*.parquet')"))
    return out


def update(java_cmd):
    """Recomputes the reference from the oracle SQL in DuckDB."""
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        path = os.path.join(tmp, "oracle.json")
        subprocess.run(java_cmd + ["perfbench.DumpOracle", path], check=True)
        oracle = json.load(open(path))
    con = connect(DATA)
    ref = {}
    for name, sql in oracle.items():
        ref[name] = fingerprint(con.sql(sql))
        print(name, ref[name], flush=True)
    os.makedirs(os.path.dirname(REFERENCE), exist_ok=True)
    with open(REFERENCE, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--update"]:
        sys.exit(__doc__)
    sys.path.insert(0, HERE)
    import run
    update(run.java_command(run.build()))
