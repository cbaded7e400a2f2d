"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__ query on Spark and its oracle on DuckDB at a
given scale factor, comparing row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
floats at FULL 17-significant-digit precision before hashing — the
local gate must be at least as strict as the driver's; the round-9
`%.9g` normalizer passed a row the driver failed).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(v):
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0"  # fold -0.0 into +0.0 explicitly
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.17g}"
    return str(v)


def magnitude_suspects(rows, colnames):
    """The agg_gini geometry, detected by construction: a float column
    carrying FINE-GRAINED rounding (3-6 fractional digits in the
    shortest repr — i.e. a round(x, 6)-style contract, not a raw
    double, whose shortest repr at this magnitude carries more digits,
    and not a cents sum, which carries <= 2) at |value| > 1e6, where
    the rounding grain (<= 1e-3 relative ~1e-9 of the value) sits at
    the scale of cross-engine accumulated double error — the two
    engines round DIFFERENT ulps and the %.17g hash diverges.  Expose
    a mean/ratio instead of the raw sum (VERDICT r9 #1 rule).
    """
    out = set()
    for r in rows:
        for i, v in enumerate(r):
            if not isinstance(v, float) or not math.isfinite(v):
                continue
            if abs(v) <= 1e6 or v == int(v):
                continue
            txt = repr(v)
            if "e" in txt or "E" in txt:
                continue
            frac = len(txt.split(".", 1)[1])
            if 3 <= frac <= 6:
                out.add(colnames[i])
    return out


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(normalize(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from recover_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entrymod._TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # python oracles for the iterative (non-SQL-expressible) queries:
    # same hash contract, executed as callables against the same DuckDB
    # connection (VERDICT r10 task 5 — retires the weak rows locally)
    py_oracles = getattr(entrymod, "oracle_py", dict)()
    failures = []
    suspects: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles and name not in py_oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle)")
            continue
        try:
            if name in oracles:
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
            else:
                ocols, orows = py_oracles[name](con, sf_dir)
                orows = [tuple(r) for r in orows]
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        sus = magnitude_suspects(orows, ocols)
        if sus:
            suspects[name] = sorted(sus)
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}  ({dt:.1f}s)")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(srows)}  ({dt:.1f}s)")

    print(
        f"\nmagnitude-scan: {len(suspects)} suspect queries"
        + (f": {suspects}" if suspects else "")
        + "  (|value|>1e6 with 3-6-decimal rounding — the agg_gini"
        " geometry; expose means/ratios, not raw sums)"
    )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
