#!/usr/bin/env python3
"""Cross-checks minted query fingerprints against DuckDB.

For every checked query that has an oracle in `SparkEntry.oracleSql`, runs
the oracle SQL in DuckDB over the benchmark's fixture, renders each row
by the rules of Fingerprint.scala (coerced to the Spark column types the
mint recorded) and compares row count and hash with the golden file.
Run through `python3 perfbench/run.py --mint`.
"""
import datetime
import decimal
import hashlib
import json
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SIG = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def number(d):
    """Canonical text of a non-integral number (Fingerprint.number)."""
    if d.is_nan():
        return "NaN"
    if d.is_infinite():
        return "Inf" if d > 0 else "-Inf"
    if d == 0:
        return "0"
    sign, digits, exp = d.normalize(SIG).as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"{unscaled}e{exp}"


def split_top(s):
    """Splits 'a:int,b:array<int>' at top-level commas."""
    out, depth, cur = [], 0, ""
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    return out + [cur] if cur else out


def render(v, t):
    if v is None:
        return "N"
    if t in ("tinyint", "smallint", "int", "bigint"):
        return str(int(v))
    if t in ("float", "double") or t.startswith("decimal"):
        if isinstance(v, float):
            return number(decimal.Decimal(v))
        return number(decimal.Decimal(v))
    if t == "boolean":
        return "T" if v else "F"
    if t == "string":
        s = str(v)
        return f"{len(s.encode('utf-16-le')) // 2}:{s}"
    if t == "binary":
        return bytes(v).hex()
    if t in ("timestamp", "timestamp_ntz"):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "T" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if t == "date":
        return "D" + str((v - datetime.date(1970, 1, 1)).days)
    if t.startswith("array<"):
        et = t[len("array<"):-1]
        return "[" + ",".join(render(e, et) for e in v) + "]"
    if t.startswith("struct<"):
        fields = [f.split(":", 1) for f in split_top(t[len("struct<"):-1])]
        vals = list(v.values()) if isinstance(v, dict) else list(v)
        return "{" + "|".join(render(x, ft) for x, (_, ft) in zip(vals, fields)) + "}"
    raise ValueError(f"no rendering rule for type {t}")


def fingerprint(rows, types):
    h = 0
    for r in rows:
        line = "|".join(render(v, t) for v, t in zip(r, types))
        h = (h + int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")) % 2**64
    return len(rows), f"{h:016x}"


def check(fixture, golden_path, oracle_path):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    golden = {}
    with open(golden_path) as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            kind, name, rows, h = line.rstrip("\n").split("\t")
            if kind == "query":
                golden[name] = (int(rows), h)
    with open(oracle_path) as fh:
        oracles = json.load(fh)
    ok = True
    for name in sorted(golden):
        if name not in oracles:
            print(f"SKIP {name}: no oracle")
            continue
        o = oracles[name]
        try:
            got = fingerprint(con.execute(o["sql"]).fetchall(), o["types"])
        except Exception as e:  # an oracle that fails is a failed check
            got = ("error", str(e).splitlines()[0])
        status = "PASS" if got == golden[name] else "FAIL"
        ok &= status == "PASS"
        print(f"{status} {name}: duckdb {got} minted {golden[name]}")
    return ok


if __name__ == "__main__":
    sys.exit(0 if check(*sys.argv[1:4]) else 1)
