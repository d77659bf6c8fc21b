"""Steadiness check: run the benchmark on several seeds per workload and
report, for every end-to-end metric, the quartile spread as a share of the
median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads relational,live] [--out f.json]
    python3 perfbench/steadiness.py --seeds 1-10 --seeds2 41-50 --out f.json   # two sets

Runs are interleaved: seed by seed, every workload in turn, and with
``--seeds2`` the second set's run of a seed right after the first's, so a
slow phase of the host lands on both sets and on every workload instead of
on one of them. A set's median may move by up to its bound before a change
is called a regression, and the spread of single runs must stay within the
bound; a metric is called steady here when its spread is within a third of
its bound, which leaves room for a second set to land anywhere in the
first one's quartiles (``setup_s`` is reported, not judged).
``--compare a.json b.json`` checks that the second set's medians are no
worse than the first's by more than the bound, for every metric including
``setup_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance as a share of the median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def _run(wl: str, seed: int) -> dict | None:
    out = subprocess.run(
        [sys.executable, str(ROOT / SPEC["command"][1]), "--workload", wl,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    if out.returncode != 0:
        print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stderr[-1500:]}", flush=True)
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def collect(workloads: list[str], seed_sets: list[list[int]]) -> list[dict]:
    """One result dict per set; the i-th seed of every set runs together."""
    runs: list[dict] = [{} for _ in seed_sets]
    for seeds in zip(*seed_sets):
        for wl in workloads:
            for k, seed in enumerate(seeds):
                t0 = time.monotonic()
                res = _run(wl, seed)
                if res is None:
                    continue
                runs[k].setdefault(wl, []).append(res)
                vals = " ".join(f"{n}={v['value']:.4g}" for n, v in res["metrics"].items())
                print(f"set {k + 1} {wl} seed {seed} ({time.monotonic() - t0:.0f} s): "
                      f"correct={res['correct']} {vals}", flush=True)
    return runs


def report(runs: dict) -> dict:
    summary = {}
    for wl, results in runs.items():
        for m in SPEC["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med, spr = spread(vals)
            ok = m["name"] == "setup_s" or spr <= m["bound"] / 3
            summary[f"{wl}/{m['name']}"] = {"median": med, "spread": spr, "bound": m["bound"]}
            print(f"{wl:11s} {m['name']:15s} median={med:<10.4g} spread={spr:6.3f} "
                  f"bound={m['bound']:.2f} {'ok' if ok else 'UNSTEADY'}")
    return summary


def compare(a: dict, b: dict) -> int:
    better = {m["name"]: m["better"] for m in SPEC["end_to_end"]}
    bad = 0
    for key, sa in a.items():
        sb = b.get(key)
        if sb is None:
            continue
        name = key.split("/", 1)[1]
        change = (sb["median"] - sa["median"]) / sa["median"]
        worse = change if better[name] == "lower" else -change
        flag = "WORSE" if worse > sa["bound"] else "ok"
        bad += flag != "ok"
        print(f"{key:28s} {sa['median']:.4g} -> {sb['median']:.4g} ({change:+.3f}) {flag}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seeds2", help="seeds of a second set, run interleaved with the first")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(Path(p).read_text()) for p in args.compare)
        return compare(a, b)
    summaries = []
    seed_sets = [_seeds(args.seeds)] + ([_seeds(args.seeds2)] if args.seeds2 else [])
    for k, runs in enumerate(collect(args.workloads.split(","), seed_sets)):
        print(f"-- set {k + 1}")
        summaries.append(report(runs))
    rc = 0
    if len(summaries) == 2:
        print("-- set 2 against set 1")
        rc = compare(*summaries)
    if args.out:
        Path(args.out).write_text(json.dumps(summaries[0] if len(summaries) == 1 else summaries,
                                             indent=1))
    return rc


if __name__ == "__main__":
    sys.exit(main())
