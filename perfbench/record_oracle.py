#!/usr/bin/env python3
"""Records the DuckDB oracle's answer for every gate in perfbench/gates.txt.

Usage (from the repository root, after one `python3 perfbench/run.py` has
built the harness):
    python3 perfbench/record_oracle.py

For each gate it runs `graft.SparkEntry.oracleSql(gate)` in DuckDB over the
tables in perfbench/data/sf0.01 and writes `gate<TAB>rows<TAB>hash` to
perfbench/oracle.tsv. The canonical form is the one `perfbench.Canon`
computes for graft's rows; tools/parity_check.py canonicalises the same way
except that this form fixes the text of every value type.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
CTX = decimal.Context(prec=100, rounding=decimal.ROUND_HALF_EVEN)


def decimal_text(d):
    r = d.quantize(decimal.Decimal("1e-9"), context=CTX)
    if r.is_zero():
        return "0"
    return format(r.normalize(CTX), "f")


def value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return decimal_text(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return decimal_text(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return f"{base}.{v.microsecond:06d}" if v.microsecond else base
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(value(x) for x in v.values()) + "}"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(value(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    with open(os.path.join(HERE, "target", "bench.classpath")) as f:
        cp = f.read().strip()
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "gate_sweep",
                        "--bench", HERE, "--work", tmp, "--oracle-sql-out", out], check=True)
        with open(out) as f:
            sql = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(DATA)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(DATA, name)}'")
    with open(os.path.join(HERE, "oracle.tsv"), "w") as f:
        for gate, q in sql.items():
            r = con.sql(q)
            n, h = digest(r.columns, r.fetchall())
            f.write(f"{gate}\t{n}\t{h}\n")
            print(f"{gate}: {n} rows {h}", file=sys.stderr)


if __name__ == "__main__":
    main()
