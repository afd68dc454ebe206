#!/usr/bin/env python3
"""Oracle digests for the analytics workload.

Runs each query's `SparkEntry.oracleSql` twin in DuckDB over the input
set's parquet tables and reduces the result to the digest that
`graft.perfbench.Digest` computes from the engine's rows: the
normalisation of `dev/check.py` (columns by sorted name, rows as a
sorted multiset, exact values tagged by kind, NaN == NaN, -0.0 == 0.0,
decimals without trailing zeros).

The two encoders must stay byte-identical; a change to one is a change
to both.

    python3 perfbench/oracle.py <sfDir> <oracle_sql.json> <out.json> [query ...]

where oracle_sql.json is the `--dump-oracle` output of the harness
(`.bench_build/perfbench/oracle_sql.json` after any run).
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import sys
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DAY = datetime.date(1970, 1, 1)


def _enc(v, out):
    if v is None:
        out.append("N")
    elif isinstance(v, bool):
        out.append("B1" if v else "B0")
    elif isinstance(v, int):
        out.append(f"I{v}")
    elif isinstance(v, float):
        if math.isnan(v):
            out.append("FNaN")
        else:
            bits = struct.unpack("<Q", struct.pack("<d", 0.0 if v == 0.0 else v))[0]
            out.append(f"F{bits:x}")
    elif isinstance(v, decimal.Decimal):
        out.append("D" + ("0" if v == 0 else format(v.normalize(), "f")))
    elif isinstance(v, str):
        # Java's String.length counts UTF-16 code units
        out.append(f"S{len(v.encode('utf-16-le')) // 2}:{v}")
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        out.append(f"T{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}")
    elif isinstance(v, datetime.date):
        out.append(f"d{(v - _EPOCH_DAY).days}")
    elif isinstance(v, (bytes, bytearray, memoryview)):
        out.append("X" + bytes(v).hex())
    elif isinstance(v, (list, tuple)):
        out.append(f"L{len(v)}[")
        for x in v:
            _enc(x, out)
            out.append(",")
        out.append("]")
    elif isinstance(v, dict):
        out.append("R{")
        for k, x in v.items():
            out.append(f"{k}=")
            _enc(x, out)
            out.append(",")
        out.append("}")
    else:
        out.append(f"?{v}")


def digest(columns, rows):
    """(row count, hex digest) of a result, as `Digest.of` computes it."""
    names = sorted(columns)
    idx = [list(columns).index(c) for c in names]
    encoded = []
    for r in rows:
        out = []
        for i in idx:
            _enc(r[i], out)
            out.append("|")
        encoded.append("".join(out).encode("utf-8"))
    encoded.sort()
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(names) + "\n").encode("utf-8"))
    for e in encoded:
        h.update(e)
        h.update(b"\n")
    return len(rows), h.hexdigest()


def fingerprint(sf_dir):
    """Identity of an input set: every parquet file's name and content."""
    h = hashlib.sha256()
    root = Path(sf_dir)
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(root)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def compute(sf_dir, oracle_sql, names, log=sys.stderr):
    """{query: [rows, digest]} for the named queries that have an oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        if name not in oracle_sql:
            continue
        res = con.sql(oracle_sql[name])
        out[name] = list(digest(res.columns, res.fetchall()))
        print(f"oracle {name}: {out[name][0]} rows", file=log, flush=True)
    return out


def main():
    sf_dir, sql_file, out_file = sys.argv[1:4]
    oracle_sql = json.loads(Path(sql_file).read_text())["oracle"]
    names = sys.argv[4:] or sorted(oracle_sql)
    result = {"fingerprint": fingerprint(sf_dir), "input": Path(sf_dir).name,
              "digests": compute(sf_dir, oracle_sql, names)}
    Path(out_file).write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
