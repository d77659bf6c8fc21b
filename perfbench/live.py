"""``live`` workload: a ``StreamingCollection`` with two live pipelines.

One incremental ``$group`` (``$sum``/``$avg``/count, Structured Streaming
state store) and one non-invertible ``$max`` pipeline on the keyed
recompute path, under the default eager autoflush. Each request is one
seeded mutation -- an ``add_bulk`` batch or a ``remove`` of earlier
documents -- followed by a read-your-writes ``result()`` of both
pipelines. The collection is bootstrapped at set-up from a parquet
snapshot read through ``aggo_spark.read_parquet``.

Check: at seeded checkpoints and at the end, each live result equals
``Engine.aggregate`` over the net documents.
"""

from __future__ import annotations

import math
import random
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import inputs

SCHEMA = "id BIGINT, k STRING, g BIGINT, v DOUBLE"


def pipelines(v_min: float) -> dict[str, list]:
    return {
        "sums": [{"$group": {"_id": "$k", "total": {"$sum": "$v"},
                             "avg": {"$avg": "$v"}, "n": {"$sum": 1}}}],
        "max": [{"$match": {"v": {"$gte": v_min}}},
                {"$group": {"_id": "$g", "mx": {"$max": "$v"}}}],
    }


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(got: list[dict], want: list[dict]) -> str | None:
    """Rows keyed by ``_id``; floats within 1e-9 (incremental sums add in
    micro-batch order, the batch aggregate in scan order)."""
    g = {r["_id"]: r for r in got}
    w = {r["_id"]: r for r in want}
    if g.keys() != w.keys():
        return f"groups differ: {sorted(g.keys() ^ w.keys(), key=str)[:5]}"
    for key, row in w.items():
        for col, val in row.items():
            if not _close(g[key].get(col), val):
                return f"group {key!r} {col}: {g[key].get(col)!r} != {val!r}"
    return None


BOOTSTRAP_OPS = 8  # schedule prefix loaded from parquet at set-up
CHECKPOINTS = 1  # seeded mid-run result checks, besides the one at the end


class Workload:
    """Blocks of four mutations (three ``add_bulk``, one ``remove``)."""

    name = "live"
    python_workers = False  # whether requests run Python UDFs
    items_unit = "deltas applied (documents added or removed)"
    nominal_round_s = 10.0

    def __init__(self, cache: Path, work: Path, seed: int, scale: str):
        self.batch = 200 if scale == "full" else 10
        self.work = work
        self.rng = random.Random(seed)
        self.pipelines = pipelines(float(self.rng.randint(0, 20)))
        self.ops = inputs.live_schedule(seed, 400, self.batch)
        boot = [d for op, docs in self.ops[:BOOTSTRAP_OPS] if op == "add" for d in docs]
        removed = {d["id"] for op, docs in self.ops[:BOOTSTRAP_OPS] if op == "remove" for d in docs}
        self.snapshot = cache / f"live-seed{seed}-b{self.batch}-{inputs.TAG}.parquet"
        if not self.snapshot.exists():
            tmp = self.snapshot.with_suffix(".tmp")
            pq.write_table(pa.Table.from_pylist(
                [d for d in boot if d["id"] not in removed],
                schema=pa.schema([("id", pa.int64()), ("k", pa.string()),
                                  ("g", pa.int64()), ("v", pa.float64())])), tmp)
            tmp.replace(self.snapshot)
        self.coll = None
        self.n_setups = 0
        self.check_seconds: dict[str, float] = {}

    def setup(self, spark) -> float:
        """Create the collection, bootstrap it from the parquet snapshot
        (the sources-layer read is the returned time), register both
        pipelines."""
        import aggo_spark

        self.spark = spark
        self.n_setups += 1
        self.coll = aggo_spark.StreamingCollection(
            spark, SCHEMA, workdir=str(self.work / f"live-{self.n_setups}"))
        t0 = time.perf_counter()
        docs = [r.asDict() for r in aggo_spark.read_parquet(spark, str(self.snapshot)).collect()]
        load_s = time.perf_counter() - t0
        self.coll.add_bulk(docs)
        self.rids = {}
        for name, p in self.pipelines.items():
            self.rids[name] = rid = f"{name}-{self.n_setups}"
            self.coll.stream(p, rid=rid)
        self.net = {d["id"]: d for d in docs}
        self.results: dict[str, list] = {}
        self.progress_seen: dict = {}
        self.checks: list = []
        self.unchecked: list[int] = []  # requests since the last check
        self.wrong: set[int] = set()
        return load_s

    def teardown(self) -> None:
        if self.coll is not None:
            self.coll.stop()
            self.coll = None

    def rounds(self, n: int):
        self.check_at = set(self.rng.sample(range(4 * n - 1), min(CHECKPOINTS, 4 * n - 1)))
        nxt = BOOTSTRAP_OPS
        for _ in range(n):
            block = []
            for op, docs in self.ops[nxt:nxt + 4]:
                block.append(inputs.Request("live", op, len(docs), op=op, docs=docs))
            nxt += 4
            yield block

    def mutate(self, req) -> None:
        if req.op == "add":
            self.coll.add_bulk(req.docs)
        else:
            self.coll.remove(req.docs)

    def read(self) -> None:
        self.results = {name: self.coll.result(rid) for name, rid in self.rids.items()}

    def after_request(self, i: int, req, ok: bool) -> None:
        """Track the net documents; at the seeded checkpoints compare the
        live results with a batch aggregate over them."""
        if not ok:
            return
        for d in req.docs:
            if req.op == "add":
                self.net[d["id"]] = d
            else:
                self.net.pop(d["id"], None)
        self.unchecked.append(i)
        if i in self.check_at:
            self.checks += self._compare(f"after request {i}")

    def check(self, executed: list, every: bool = True) -> list:
        self.read()
        return self.checks + self._compare("at the end")

    def wrong_requests(self, samples: list, checks: list) -> set:
        return self.wrong

    def _compare(self, when: str) -> list:
        import aggo_spark

        import pandas as pd

        # from pandas through Arrow: no Python worker is started for it
        df = self.spark.createDataFrame(
            pd.DataFrame(list(self.net.values()), columns=["id", "k", "g", "v"]), SCHEMA)
        eng = aggo_spark.Engine()
        out = []
        for name, p in self.pipelines.items():
            want = [r.asDict(recursive=True) for r in eng.aggregate(df, p).collect()]
            out.append((f"{name} {when}", compare(self.results.get(name, []), want)))
        if any(why is not None for _, why in out):
            # a wrong result counts against every request since the last check
            self.wrong.update(self.unchecked)
        self.unchecked = []
        return out

    def spool_files(self) -> int:
        return sum(1 for _ in (Path(self.coll.workdir) / "data").iterdir())
