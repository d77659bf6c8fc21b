"""Seeded inputs for the three benchmark workloads.

Everything here is a pure function of its seed (and scale), written under
the benchmark's cache directory inside the checkout and never committed:

- ``relational_tables``: the project's test tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents) at a
  scale factor, with the column names, physical types, value ranges and
  distributions measured on its sf0.1 tables (see ``SF01``): uniform
  independent columns, uniformly random foreign keys (lineitem rows are not
  grouped by order), microsecond timestamps, one snappy row group per file.
  They are generated from a fixed seed; a run's seed only draws the
  pipeline parameters. ``datacheck.py`` compares them with a reference
  directory column by column.
- ``curation_corpus``: documents and embeddings made by
  ``tools/gen_scale_data.py``'s ``gen_documents`` / ``gen_embeddings`` with
  the run's seed, plus the BPE merges the tokenizer request applies,
  learned from those documents.
- ``live_schedule``: the add/remove mutation schedule of the live workload.

``gen_documents`` samples words from the distinct words of an sf0.1
``documents`` table and labels from its language counts. The benchmark
reads nothing outside its checkout, so it hands the generator a one-file
table with exactly that vocabulary and those counts (``SF01``); the
documents it makes are the ones it makes from the sf0.1 table itself.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240607
BPE_MERGES = 200


def _source_tag() -> str:
    """Names cached inputs after the code that generates them, so a changed
    generator never reuses inputs an earlier version left in the cache."""
    import hashlib

    here = Path(__file__).resolve()
    h = hashlib.sha1(here.read_bytes())
    gen = here.parent.parent / "tools" / "gen_scale_data.py"
    if gen.is_file():
        h.update(gen.read_bytes())
    return h.hexdigest()[:10]


TAG = _source_tag()

# Measured on the project's sf0.1 test tables (row counts scale with sf).
SF01 = {
    "rows": {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
             "lineitem": 600_000, "events": 100_000, "users": 1_500},
    "segments": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "part_adj": ["blue", "cold", "hot", "large", "new", "old", "red", "small"],
    "part_noun": ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
    "part_types": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
    "priorities": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "event_types": ["view", "click", "signup", "purchase", "error"],
    "acctbal": (-999.99, 9999.99),
    "totalprice": (1000.0, 500_000.0),
    "extendedprice": (900.0, 105_000.0),
    "order_days": ("1995-01-01", 2405),  # first order date, distinct days
    "ship_lag_days": (1, 95),  # ship date = a random order date + lag
    "events_start": "2024-01-01", "events_days": 30,
    "event_value_mean": 50.0,  # exponential
    # gen_documents' inputs: the distinct words and the language counts
    "vocab": ("a agg batch big column customer data dup fast filter group hash join "
              "key line merge order part query row scan slow small sort spark stream "
              "table the value vector window").split(),
    "langs": {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753},
}

_DAY_US = 86_400 * 10**6


def _write(table: dict, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    t = pa.table(table)
    pq.write_table(t, tmp, compression="snappy", row_group_size=max(1, len(t)))
    tmp.replace(path)


def _gen_module(repo: Path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", repo / "tools" / "gen_scale_data.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _vocab_source(out: Path) -> None:
    """A one-file 'documents' table whose distinct words and language
    counts are those of the sf0.1 documents."""
    langs = [lang for lang, n in SF01["langs"].items() for _ in range(n)]
    texts = [" ".join(SF01["vocab"])] + [""] * (len(langs) - 1)
    _write({"text": texts, "lang": langs}, out / "documents.parquet")


def _documents(repo: Path, cache: Path, out: Path, k: float, seed: int,
               embeddings: bool) -> None:
    """``gen_documents`` (and ``gen_embeddings``) at ``k`` x sf0.1.

    The generator functions take an integer multiple of sf0.1; fractional
    scales (the smoke mode) generate one multiple and keep a prefix."""
    import duckdb

    vocab = cache / "vocab"
    vocab.mkdir(parents=True, exist_ok=True)
    _vocab_source(vocab)
    gen = _gen_module(repo)
    gen.SRC = str(vocab)
    con = duckdb.connect()
    try:
        kk = max(1, int(round(k)))
        staging = out / "staging"
        staging.mkdir(parents=True, exist_ok=True)
        gen.gen_documents(con, staging, kk, seed=seed)
        if embeddings:
            gen.gen_embeddings(con, staging, kk, seed=seed)
        names = ["documents"] + (["embeddings"] if embeddings else [])
        limits = {"documents": int(5000 * k), "embeddings": int(2000 * k)}
        for name in names:
            t = pq.read_table(staging / f"{name}.parquet")
            t = t.slice(0, min(len(t), max(limits[name], 50)))
            pq.write_table(t, out / f"{name}.parquet")
            (staging / f"{name}.parquet").unlink()
        staging.rmdir()
    finally:
        con.close()


def learn_bpe_merges(texts, num_merges: int) -> list[tuple[str, str]]:
    """Word-level BPE merges (Sennrich et al. 2016) over the normalized
    words of ``texts``: symbols are characters plus an end-of-word marker;
    each step merges the most frequent adjacent pair, ties to the smallest
    pair, and stops when no pair occurs twice."""
    import re
    from collections import Counter

    counts = Counter()
    for t in texts:
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", (t or "").lower())).strip()
        counts.update(w for w in norm.split(" ") if w)
    words = {tuple(w) + ("</w>",): c for w, c in counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, c in words.items():
            for pair in zip(syms, syms[1:]):
                pairs[pair] += c
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if syms[i:i + 2] == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] = merged.get(tuple(out), 0) + c
        words = merged
    return merges


def relational_tables(repo: Path, cache: Path, sf: float) -> Path:
    """The test tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    out = cache / f"relational-sf{sf:g}-{TAG}"
    done = out / "DONE"
    if done.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n = {t: max(1, int(round(c * sf / 0.1))) for t, c in SF01["rows"].items()}

    def pick(values, size):
        return np.asarray(values)[rng.integers(0, len(values), size)]

    def money(lo_hi, size):
        return np.round(rng.uniform(*lo_hi, size), 2)

    def ints(lo, hi, size, dtype=pa.int64()):  # inclusive
        return pa.array(rng.integers(lo, hi + 1, size), dtype)

    def names(prefix, size):
        return [f"{prefix}#{i:09d}" for i in range(size)]

    _write({"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           out / "region.parquet")
    _write({"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
           out / "nation.parquet")
    c = n["customer"]
    _write({"c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": names("Customer", c),
            "c_nationkey": ints(0, 24, c, pa.int32()),
            "c_acctbal": money(SF01["acctbal"], c),
            "c_mktsegment": pick(SF01["segments"], c)},
           out / "customer.parquet")
    s = n["supplier"]
    _write({"s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": names("Supplier", s),
            "s_nationkey": ints(0, 24, s, pa.int32()),
            "s_acctbal": money(SF01["acctbal"], s)},
           out / "supplier.parquet")
    p = n["part"]
    _write({"p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": np.char.add(np.char.add(pick(SF01["part_adj"], p), " "),
                                  pick(SF01["part_noun"], p)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": pick(SF01["part_types"], p),
            "p_size": ints(1, 50, p, pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)},
           out / "part.parquet")

    day0, n_days = SF01["order_days"]
    day0 = np.datetime64(day0, "us")

    def days(d):
        return pa.array(day0 + d * np.timedelta64(_DAY_US, "us"), pa.timestamp("us"))

    o = n["orders"]
    _write({"o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": ints(0, c - 1, o),
            "o_orderstatus": pick(["F", "O", "P"], o),
            "o_totalprice": money(SF01["totalprice"], o),
            "o_orderdate": days(rng.integers(0, n_days, o)),
            "o_orderpriority": pick(SF01["priorities"], o)},
           out / "orders.parquet")
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    lag_lo, lag_hi = SF01["ship_lag_days"]
    _write({"l_orderkey": ints(0, o - 1, li),
            "l_partkey": ints(0, p - 1, li),
            "l_suppkey": ints(0, s - 1, li),
            "l_linenumber": ints(1, 7, li, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": money(SF01["extendedprice"], li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": pick(["A", "N", "R"], li),
            "l_linestatus": pick(["F", "O"], li),
            "l_shipdate": days(rng.integers(0, n_days, li)
                               + rng.integers(lag_lo, lag_hi + 1, li))},
           out / "lineitem.parquet")
    e = n["events"]
    t0 = np.datetime64(SF01["events_start"], "us")
    ts = np.sort(rng.integers(0, SF01["events_days"] * _DAY_US, e))
    _write({"event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": ints(0, n["users"] - 1, e),
            "event_type": pick(SF01["event_types"], e),
            "value": np.round(rng.exponential(SF01["event_value_mean"], e), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, e)]},
           out / "events.parquet")

    _documents(repo, cache, out, sf * 10, TABLE_SEED, embeddings=False)
    done.write_text("ok\n")
    return out


def curation_corpus(repo: Path, cache: Path, k: float, seed: int) -> Path:
    """Documents and embeddings at ``k`` x sf0.1 for ``seed``."""
    out = cache / f"curation-k{k:g}-seed{seed}-{TAG}"
    done = out / "DONE"
    if done.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    _documents(repo, cache, out, k, seed, embeddings=True)
    texts = pq.read_table(out / "documents.parquet", columns=["text"]).column(0).to_pylist()
    (out / "merges.json").write_text(json.dumps(learn_bpe_merges(texts, BPE_MERGES)))
    done.write_text("ok\n")
    return out


# -- live workload ----------------------------------------------------------

LIVE_KEYS = 40  # distinct $group keys of the incremental pipeline
LIVE_GROUPS = 12  # distinct keys of the $max (keyed-recompute) pipeline


def live_schedule(seed: int, n_ops: int, batch: int) -> list[tuple[str, list[dict]]]:
    """``n_ops`` mutations: mostly ``add_bulk`` batches of new documents,
    every fourth a ``remove`` of earlier, still-live documents. Keys are
    Zipf-skewed, so a few groups change on most mutations."""
    rng = random.Random(seed)
    key_w = [1.0 / (i + 1) for i in range(LIVE_KEYS)]
    live: list[dict] = []
    ops: list[tuple[str, list[dict]]] = []
    next_id = 0
    for i in range(n_ops):
        if i % 4 == 3 and len(live) > batch:
            picks = sorted(rng.sample(range(len(live)), batch // 4), reverse=True)
            ops.append(("remove", [live.pop(j) for j in picks]))
            continue
        docs = []
        for _ in range(batch):
            docs.append({
                "id": next_id,
                "k": f"k{rng.choices(range(LIVE_KEYS), key_w)[0]:02d}",
                "g": rng.randrange(LIVE_GROUPS),
                "v": round(rng.uniform(0.0, 100.0), 2),
            })
            next_id += 1
        live.extend(docs)
        ops.append(("add", docs))
    return ops


@dataclass
class Request:
    """One timed request. Batch requests ``build`` a lazy DataFrame that the
    loop writes to the noop sink; live requests apply ``op`` to ``docs``."""

    kind: str  # "batch" | "live"
    label: str
    items: int  # input items the request works on
    stages: int = 0  # top-level pipeline stages (0 for operator calls)
    build: Callable | None = None
    check: Callable | None = None  # re-runs the request and returns None or why it is wrong
    op: str = ""
    docs: list = field(default_factory=list)


class BatchWorkload:
    """Shared parts of the two batch workloads.

    After the loop, the first request of ``checks_per_run`` labels
    (templates or operators) is built again on the same parameters,
    collected and compared with its twin. The labels are consecutive in a
    fixed shuffled order, starting at ``seed * checks_per_run``, so any
    ``ceil(labels / checks_per_run)`` consecutive seeds check every label;
    ``every`` checks all of them. Re-running every label would double a
    run's Spark work, which the benchmark's time budget does not hold."""

    checks_per_run = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.check_seconds: dict[str, float] = {}

    def after_request(self, i: int, req: Request, ok: bool) -> None:
        pass

    def check_labels(self, labels: list[str], every: bool) -> list[str]:
        order = sorted(labels)
        random.Random(0xC4EC).shuffle(order)
        if every or self.checks_per_run >= len(order):
            return sorted(order)
        start = self.seed * self.checks_per_run
        return sorted(order[(start + j) % len(order)] for j in range(self.checks_per_run))

    def check(self, executed: list[Request], every: bool = False) -> list:
        import time

        first: dict[str, Request] = {}
        for req in executed:
            first.setdefault(req.label, req)
        out = []
        for label in self.check_labels(list(first), every):
            t0 = time.perf_counter()
            out.append((label, first[label].check()))
            self.check_seconds[label] = time.perf_counter() - t0
        return out

    def spool_files(self) -> int:
        return 0

    def wrong_requests(self, samples: list, checks: list) -> set:
        """Requests of every template or operator whose check failed."""
        failed = {name for name, why in checks if why is not None}
        return {s["req"] for s in samples if s["label"] in failed}
