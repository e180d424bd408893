#!/usr/bin/env python3
"""Makes `digests.json`: the expected result of every query the
`llm_curation` workload runs, on the tables in `fixture/`.

    python3 perfbench/oracle.py <classpath-file> [<untraced result.json> ...]

Run it from the root of a checkout after one `run.py` call has built the
benchmark (the classpath file is `.bench_build/perfbench/classpath.txt`).
Queries with an oracle (`SparkEntry.oracleSql`) get a digest of the DuckDB
result, computed with the rules of `tools/parity.py` (see `digest`).
Queries without one are checked by row count, taken from the given result
files of earlier untraced runs, which must agree with each other.
"""
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import FIXTURE, fixture_hash  # noqa: E402


def type_tag(t):
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_binary(t):
        return "bin"
    return "complex:" + str(t)


def _bits(fmt_pack, fmt_int, v, nan):
    if v != v:
        return nan
    if v == 0.0:
        v = 0.0
    return format(struct.unpack(fmt_int, struct.pack(fmt_pack, v))[0], "x")


def column_values(col):
    t = col.type
    if pa.types.is_timestamp(t):
        col = pc.cast(pc.cast(col, pa.timestamp("us", tz=t.tz)), pa.int64())
    elif pa.types.is_date32(t):
        col = pc.cast(col, pa.int32())
    vals = col.to_pylist()
    if pa.types.is_float64(t):
        return [None if v is None else _bits(">d", ">Q", v, "7ff8000000000000")
                for v in vals]
    if pa.types.is_float32(t):
        return [None if v is None else _bits(">f", ">I", v, "7fc00000")
                for v in vals]
    if pa.types.is_boolean(t):
        return [None if v is None else ("1" if v else "0") for v in vals]
    if pa.types.is_decimal(t):
        return [None if v is None else format(v, "f") for v in vals]
    return [None if v is None else str(v) for v in vals]


def digest(table):
    """The same digest `perfbench.Digest.of` computes over Spark rows:
    `<rows>:<type hash>:<sum of per-row sha256 prefixes mod 2^64>`."""
    names = sorted(table.column_names)
    types = ",".join(f"{n}={type_tag(table.column(n).type)}" for n in names)
    cols = [column_values(table.column(n)) for n in names]
    total = 0
    for i in range(table.num_rows):
        line = "\u0001".join("N" if c[i] is None else c[i] for c in cols)
        h = hashlib.sha256(line.encode("utf-8")).digest()
        total = (total + struct.unpack(">q", h[:8])[0]) % (1 << 64)
    th = hashlib.sha256(types.encode()).hexdigest()[:12]
    return f"{table.num_rows}:{th}:{total}"


def main():
    cp = open(sys.argv[1]).read().strip()
    results = sys.argv[2:]
    root = os.getcwd()
    dump = os.path.join(root, ".bench_build", "perfbench", "oracles.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracles", dump],
                   check=True)
    oracles = json.load(open(dump))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(FIXTURE)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(FIXTURE, f)}')")
    rows = {}
    for r in results:
        for name, kind, value in json.load(open(r))["checks"]:
            if kind == "rows":
                rows.setdefault(name, set()).add(value)
    out = {}
    for name, sql in sorted(oracles.items()):
        if sql is not None:
            out[name] = ["digest", digest(con.sql(sql).arrow())]
        elif len(rows.get(name, ())) == 1:
            out[name] = ["rows", rows[name].pop()]
        else:
            print(f"no single row count for {name}: {rows.get(name)}",
                  file=sys.stderr)
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump({"fixture": fixture_hash(), "queries": out}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
