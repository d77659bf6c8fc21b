"""Compare the benchmark's generated relational tables with a reference
directory of the same tables, column by column.

    python3 perfbench/datacheck.py REF_DIR [--sf 0.1]

Per column it prints the physical type and the distinct count, min, max,
mean and standard deviation (timestamps as epoch days), and per foreign
key the fan-out (rows per key) and the share of keys that occur; the
reference is only read. Exits 1 when a type differs or a statistic differs
by more than 5% (of the reference's range for min/max/mean).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import inputs  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents"]
FANOUT = [("orders", "o_custkey", "customer"), ("lineitem", "l_orderkey", "orders"),
          ("lineitem", "l_partkey", "part"), ("lineitem", "l_suppkey", "supplier"),
          ("events", "user_id", None)]
TOL = 0.05


def profile(con, d: Path) -> dict:
    out = {}
    for t in TABLES:
        f = f"read_parquet('{d / t}.parquet')"
        out[(t, "", "rows")] = con.execute(f"SELECT count(*) FROM {f}").fetchone()[0]
        for col, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {f}").fetchall():
            out[(t, col, "type")] = typ
            num = (f"epoch({col}) / 86400.0" if typ.startswith("TIMESTAMP")
                   else col if typ in ("BIGINT", "INTEGER", "DOUBLE") else None)
            aggs = [f"count(DISTINCT {col})"]
            if num:
                aggs += [f"min({num})", f"max({num})", f"avg({num})", f"stddev_pop({num})"]
            vals = con.execute(f"SELECT {', '.join(aggs)} FROM {f}").fetchone()
            for name, v in zip(["distinct", "min", "max", "mean", "std"], vals):
                out[(t, col, name)] = v
    for t, col, parent in FANOUT:
        f = f"read_parquet('{d / t}.parquet')"
        per = f"(SELECT count(*) AS c FROM {f} GROUP BY {col})"
        mean, std = con.execute(f"SELECT avg(c), stddev_pop(c) FROM {per}").fetchone()
        out[(t, col, "fanout_mean")], out[(t, col, "fanout_std")] = mean, std
        if parent:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{d / parent}.parquet')").fetchone()[0]
            used = con.execute(f"SELECT count(DISTINCT {col}) FROM {f}").fetchone()[0]
            out[(t, col, "keys_used")] = used / n
    return out


def differs(stat: str, got, want, span: float) -> bool:
    if stat == "type":
        return got != want
    if got is None or want is None:
        return got != want
    scale = span if stat in ("min", "max", "mean") and span else abs(want)
    return abs(got - want) > TOL * max(scale, 1e-12)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref", type=Path)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    root = Path(__file__).resolve().parent
    gen = inputs.relational_tables(root.parent, root / ".cache", args.sf)
    con = duckdb.connect()
    a, b = profile(con, gen), profile(con, args.ref)
    bad = 0
    for key in sorted(b):
        t, col, stat = key
        got, want = a.get(key), b[key]
        span = (b.get((t, col, "max")) or 0) - (b.get((t, col, "min")) or 0)
        flag = differs(stat, got, want, span)
        bad += flag
        fmt = (lambda v: f"{v:.6g}" if isinstance(v, float) else str(v))
        print(f"{'DIFF' if flag else 'ok  '} {t}.{col or '*'} {stat}: "
              f"generated {fmt(got)} reference {fmt(want)}")
    print(f"{bad} statistics differ by more than {TOL:.0%}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
