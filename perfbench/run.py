"""Cold end-to-end benchmark of aggo-spark, with a per-layer trace.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One run: a fresh Spark session on ``local[N]`` (N = nproc / 2) and a single
closed-loop client that sends each request after the previous one
finished. Requests build fresh plans through the public ``aggo_spark`` API
and read uncached parquet into a noop sink (``relational``, ``curation``)
or mutate a live ``StreamingCollection`` and read its results (``live``).
Outputs are checked against DuckDB/NumPy twins outside the timed region.

``--seconds`` sets how many whole rounds of requests run: seconds over the
workload's nominal round time on a 4-core host, at least one, so every
seed and both sides of an A/B run the same requests. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` traces alternate requests (at least two rounds) and reports
the per-layer metrics plus the tracing overhead.
The last line of standard output is one JSON object; the full artifact
(environment, percentiles, check results, spans) is written under
``perfbench/results/``. ``--smoke`` runs every workload in both modes on
tiny inputs and asserts that every metric is emitted with its unit and
every output check ran and passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None

WORKLOADS = ("relational", "curation", "live")
SETUP_REPEATS = 3
CONTAMINATED_BUSY = 0.25  # share of host CPU busy before the run starts
CONTAMINATED_STEAL = 0.05  # share of CPU time stolen by other guests during the loop


def _program_present() -> bool:
    return ((ROOT / "aggo_spark" / "__init__.py").is_file()
            and (ROOT / "tools" / "gen_scale_data.py").is_file())


def _isolate(work: Path) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files, streaming spools) inside the run's work directory."""
    for d in ("tmp", "spark", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM's Python workers import aggo_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    sys.path[:0] = [str(ROOT), str(BENCH)]


def _source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "aggo_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, but never below the nearest-rank 90th percentile.
    Runs hold fewer than 110 requests, so this is the 90th percentile with
    fewer than ten samples beyond it (the artifact states the count)."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return xs[k], 100.0 * (k + 1) / n


def trace_overhead(samples: list[dict]) -> float:
    """Median over labels of (median traced - median untraced latency)."""
    diffs = []
    for label in {s["label"] for s in samples}:
        by = {flag: [s["latency_s"] for s in samples
                     if s["ok"] and s["label"] == label and s["traced"] == flag]
              for flag in (True, False)}
        if by[True] and by[False]:
            diffs.append(statistics.median(by[True]) - statistics.median(by[False]))
    return statistics.median(diffs) if diffs else 0.0


class Session:
    """The Spark session of one run and the JVM it starts."""

    def __init__(self, work: Path, threads: int, heap: str):
        self.work, self.threads, self.heap = work, threads, heap
        self.spark = None

    def start(self):
        import aggo_spark

        self.spark = aggo_spark.build_session(
            app_name="perfbench", master=f"local[{self.threads}]",
            shuffle_partitions=self.threads,
            extra_conf={
                "spark.driver.memory": self.heap,
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(self.work / "spark"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for it and its workers."""
        from pyspark import SparkContext

        from probe import descendants

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        left = descendants(proc.pid)
        gw.shutdown()
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in left) and time.monotonic() < deadline:
            time.sleep(0.05)
        SparkContext._gateway = SparkContext._jvm = None


class Loop:
    """The closed-loop client: runs whole rounds of requests, timing each.
    With tracing, alternate requests are traced, shifted by one every
    round, so every template or operator runs traced and untraced."""

    def __init__(self, wl, session: Session, procs, sampler, traced: bool):
        import probe

        self.wl, self.session, self.procs, self.sampler = wl, session, procs, sampler
        self.traced = traced
        self.spans = probe.Spans()
        self.samples: list[dict] = []  # one per timed request
        self.executed: list = []
        self.layers: dict[str, list[float]] = {}
        self.paused = 0.0  # time spent in checks inside the loop

    def _layer(self, **vals) -> None:
        for k, v in vals.items():
            self.layers.setdefault(k, []).append(float(v))

    def run(self, rounds: int) -> float:
        """Runs ``rounds`` whole rounds; returns the loop's wall time
        without the checks made inside it."""
        t_start = time.perf_counter()
        i = 0
        for rnd, requests in enumerate(self.wl.rounds(rounds)):
            for pos, req in enumerate(requests):
                traced = self.traced and (pos + rnd) % 2 == 0
                self.sampler.window_pyworker = 0.0
                try:
                    lat = (self._batch(i, req, traced) if req.kind == "batch"
                           else self._live(i, req, traced))
                    ok = True
                except Exception as e:  # a failed request is counted, the loop goes on
                    lat, ok = float("nan"), False
                    print(f"perfbench: request {i} ({req.label}) failed: "
                          f"{type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                self.executed.append(req)
                self.samples.append({"req": i, "label": req.label, "latency_s": lat,
                                     "ok": ok, "items": req.items, "traced": traced,
                                     "round": rnd})
                self.sampler.sample()
                self.sampler.active = False  # checks are not the program's memory
                t0 = time.perf_counter()
                self.wl.after_request(i, req, ok)
                self.paused += time.perf_counter() - t0
                self.sampler.active = True
                i += 1
        return time.perf_counter() - t_start - self.paused

    def _batch(self, i: int, req, traced: bool) -> float:
        if not traced:
            t0 = time.perf_counter()
            req.build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        import probe

        sc = self.session.spark.sparkContext
        sp = self.spans
        t0 = time.perf_counter()
        with sp.span(i, "request"):
            sc.setJobGroup(f"pb-{i}-build", req.label)
            with sp.span(i, "build", "request"):
                tb = time.perf_counter()
                df = req.build()
                build_s = time.perf_counter() - tb
            with sp.span(i, "plan", "request"):
                tp = time.perf_counter()
                jplan = df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - tp
            sc.setJobGroup(f"pb-{i}-exec", req.label)
            cpu0, rb0 = self.procs.worker_cpu_s(), self.procs.worker_read_bytes()
            with sp.span(i, "execute", "request"):
                tx = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                run_s = time.perf_counter() - tx
        latency = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        nodes, exchanges = probe.plan_shape(jplan)
        jm = probe.job_metrics(sc, f"pb-{i}-exec")
        if req.stages:
            self._layer(**{"stages.translate_s": build_s, "stages.count": req.stages,
                           "stages.translate_s_per_stage": build_s / req.stages})
        else:
            self._layer(**{"operators.build_s": build_s})
        self._layer(**{
            "catalyst.plan_s": plan_s, "catalyst.plan_nodes": nodes,
            "catalyst.exchanges": exchanges,
            "exec.run_s": run_s,
            **{f"exec.{k}": v for k, v in jm.items()},
            "exec.busy_ratio": jm["task_run_s"] / max(run_s * self.session.threads, 1e-9),
            "pyworker.cpu_s": max(0.0, self.procs.worker_cpu_s() - cpu0),
            "pyworker.bytes_sent": max(0, self.procs.worker_read_bytes() - rb0),
            "pyworker.rss_mb": self.sampler.window_pyworker,
        })
        return latency

    def _live(self, i: int, req, traced: bool) -> float:
        wl = self.wl
        if not traced:
            t0 = time.perf_counter()
            wl.mutate(req)
            wl.read()
            return time.perf_counter() - t0
        import probe

        sp = self.spans
        queries = self.session.spark.streams.active
        probe.progress_since(queries, wl.progress_seen)  # skip untraced requests' triggers
        cpu0, rb0 = self.procs.worker_cpu_s(), self.procs.worker_read_bytes()
        t0 = time.perf_counter()
        with sp.span(i, "request"):
            with sp.span(i, "mutation", "request"):
                tm = time.perf_counter()
                wl.mutate(req)
                mut_s = time.perf_counter() - tm
            with sp.span(i, "read", "request"):
                tr = time.perf_counter()
                wl.read()
                read_s = time.perf_counter() - tr
        latency = time.perf_counter() - t0
        prog = probe.progress_totals(probe.progress_since(queries, wl.progress_seen))
        if prog["triggers"]:
            sp.add(i, "trigger", "mutation", prog["trigger_s"])
        self._layer(**{
            f"streaming.{'add' if req.op == 'add' else 'remove'}_s": mut_s,
            "streaming.result_s": read_s,
            **{f"streaming.{k}": v for k, v in prog.items()},
            "streaming.recompute_s": max(0.0, mut_s - prog["trigger_s"]),
            "pyworker.cpu_s": max(0.0, self.procs.worker_cpu_s() - cpu0),
            "pyworker.bytes_sent": max(0, self.procs.worker_read_bytes() - rb0),
            "pyworker.rss_mb": self.sampler.window_pyworker,
        })
        return latency


def start_python_workers(spark, threads: int) -> None:
    """An untimed job that starts the JVM's Python workers, so the first
    timed ``mapInPandas`` request does not carry their start-up. Other
    first-job costs (class loading, JIT, codegen) stay in the timed loop:
    a fresh session pays them on its first requests."""
    spark.range(0, 1000, numPartitions=threads).mapInPandas(
        lambda batches: batches, "id long").write.format("noop").mode("overwrite").save()


def _workload(name: str, seed: int, scale: str, cache: Path, work: Path):
    if name == "relational":
        import relational
        return relational.Workload(ROOT, cache, seed, scale)
    if name == "curation":
        import curation
        return curation.Workload(ROOT, cache, seed, scale)
    import live
    return live.Workload(cache, work, seed, scale)


def task_threads(nproc: int) -> int:
    """Half the cores, one to four: the other half is left to the JVM's JIT
    compiler and GC threads, the Python driver and the Python workers. With
    a task thread on every core, the first (cold) requests wait for JIT
    compilation and their latency follows the scheduler: on a 4-core host
    the quartile spread of ``latency_tail_s`` over six relational seeds was
    0.35 with local[4] and 0.14 with local[2], run by run interleaved, with
    medians within 5% of each other."""
    return max(1, min(4, nproc // 2))


def _heap() -> str:
    """2 GiB, or a quarter of host RAM when that is smaller."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(512, min(2048, total_kb // 4096))}m"


def run(args, work: Path, cache: Path) -> tuple[dict, dict]:
    """Returns (result line, artifact)."""
    import probe

    busy = probe.host_busy()
    nproc = len(os.sched_getaffinity(0))
    threads = task_threads(nproc)
    heap = _heap()
    t_gen = time.perf_counter()
    wl = _workload(args.workload, args.seed, args.scale, cache, work)
    gen_s = time.perf_counter() - t_gen

    # set-up is repeated and the median reported; the first repeat also
    # launches the JVM
    session = Session(work, threads, heap)
    setup_s, load_s = [], []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = session.start()
        load_s.append(wl.setup(spark))
        setup_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPEATS - 1:
            wl.teardown()
            session.stop()

    t0 = time.perf_counter()
    if wl.python_workers:
        start_python_workers(spark, threads)
    workers_s = time.perf_counter() - t0
    procs = probe.Processes(session.jvm_pid())
    rounds = max(1, int(args.seconds / wl.nominal_round_s + 0.5))
    if args.trace:
        rounds = max(rounds, 2)  # every label traced once and untraced once
    with probe.RssSampler(procs) as sampler:
        sampler.active = True
        loop = Loop(wl, session, procs, sampler, traced=bool(args.trace))
        cpu0 = probe.cpu_times()
        wall = loop.run(rounds)
        steal = probe.steal_share(cpu0, probe.cpu_times())
        sampler.active = False
        t0 = time.perf_counter()
        checks = wl.check(loop.executed, every=args.checks == "all")
        check_s = time.perf_counter() - t0 + loop.paused
        persisted, stored = probe.storage(spark.sparkContext)
        spool = wl.spool_files()
    t0 = time.perf_counter()
    wl.teardown()
    spark_version = spark.version
    session.shutdown()
    shutdown_s = time.perf_counter() - t0

    import pyspark

    failed_checks = [name for name, why in checks if why is not None]
    samples = loop.samples
    wrong = wl.wrong_requests(samples, checks)
    bad = [s for s in samples if not s["ok"] or s["req"] in wrong]
    ok_lat = [s["latency_s"] for s in samples if s["ok"]]
    tail_v, tail_p = tail(ok_lat or [float("nan")])
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    e2e = {
        "setup_s": statistics.median(setup_s),
        "latency_p50_s": statistics.median(ok_lat) if ok_lat else float("nan"),
        "latency_tail_s": tail_v,
        "items_per_s": sum(s["items"] for s in samples if s["ok"]) / wall,
        "ok_rate": 1.0 - len(bad) / max(len(samples), 1),
        "peak_rss_mb": sampler.peak["total"],
    }
    layer = {k: statistics.fmean(v) for k, v in loop.layers.items()}
    layer.update({
        "sources.load_s": statistics.median(load_s),
        "cache.persisted_rdds_end": persisted,
        "cache.storage_bytes": stored,
        "streaming.spool_files": spool,
        "jvm.rss_mb": sampler.peak["jvm"],
        "driver_py.rss_mb": sampler.peak["driver_py"],
        "trace.overhead_s": trace_overhead(samples),
    })
    chosen = e2e if not args.trace else layer
    names = [m["name"] for m in SPEC["per_layer" if args.trace else "end_to_end"]]
    metrics = {n: {"value": chosen.get(n, 0.0), "unit": units[n]} for n in names}
    result = {
        "correct": not bad and not failed_checks,
        "attempted": len(samples),
        "failed": len(bad),
        "metrics": metrics,
    }
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "env": {
            "nproc": nproc, "local_threads": threads, "jvm_heap": heap,
            "shuffle_partitions": threads, "spark": spark_version,
            "pyspark": pyspark.__version__, "git_sha": _git_sha(),
            "source_sha256": _source_sha(), "host_busy_at_start": busy,
            "host_steal_in_loop": steal,
            "contaminated": busy > CONTAMINATED_BUSY or steal > CONTAMINATED_STEAL,
            "load_shape": "closed loop, one client",
        },
        "input_generation_s": gen_s,
        "setup_s_each": setup_s, "sources_load_s_each": load_s,
        "python_workers_start_s": workers_s, "shutdown_s": shutdown_s,
        "rounds": rounds, "requests": len(samples), "loop_wall_s": wall, "check_s": check_s,
        "latency_tail_percentile": tail_p, "latency_samples": len(ok_lat),
        "items_unit": wl.items_unit,
        "checks": [{"name": n, "ok": why is None, "why": why, "seconds": wl.check_seconds.get(n)}
                   for n, why in checks],
        "rss_peak_mib": sampler.peak,
        "end_to_end": e2e, "per_layer": layer if args.trace else None,
        "span_self_time_s": loop.spans.self_times() if args.trace else None,
        "samples": samples,
        "spans": loop.spans.spans if args.trace else None,
    }
    return result, artifact


def _print_summary(artifact: dict, result: dict) -> None:
    env = artifact["env"]
    print(f"perfbench {artifact['workload']} seed={artifact['seed']} trace={artifact['trace']} "
          f"nproc={env['nproc']} local[{env['local_threads']}] heap={env['jvm_heap']} "
          f"spark={env['spark']} busy_at_start={env['host_busy_at_start']:.2f} "
          f"steal_in_loop={env['host_steal_in_loop']:.3f}"
          + (" CONTAMINATED" if env["contaminated"] else ""))
    print(f"  requests={artifact['requests']} loop_wall_s={artifact['loop_wall_s']:.2f} "
          f"tail=p{artifact['latency_tail_percentile']:.1f} of {artifact['latency_samples']} "
          f"samples; items are {artifact['items_unit']}")
    for c in artifact["checks"]:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + str(c['why'])}")
    for name, m in result["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")


def smoke() -> int:
    """Every workload, both modes, tiny inputs: every metric is emitted
    with its unit and every output check runs and passes."""
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", wl,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "smoke",
                 "--checks", "all"],
                capture_output=True, text=True, cwd=ROOT, timeout=600)
            lines = out.stdout.strip().splitlines()
            tag = f"{wl} trace={trace}"
            if out.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {out.returncode}: {out.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            spec = SPEC["per_layer" if trace else "end_to_end"]
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            for m in spec:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or wrong unit: {got}")
            if set(res["metrics"]) != {m["name"] for m in spec}:
                problems.append(f"{tag}: unexpected metrics {sorted(set(res['metrics']) - {m['name'] for m in spec})}")
            checks = [l for l in lines if l.startswith("  check ")]
            if not checks or any("FAILED" in l for l in checks):
                problems.append(f"{tag}: output checks {checks or 'did not run'}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                                f"failed={res['failed']}")
            print(f"smoke {tag}: {len(checks)} checks, {res['attempted']} requests", flush=True)
    for p in problems:
        print("SMOKE FAILURE " + p)
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--checks", choices=("rotate", "all"), default="rotate",
                    help="output checks: a seed-rotated subset of labels, or all")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if SPEC is None or not _program_present():
        print("perfbench: BENCHMARK.json, aggo_spark/ or tools/gen_scale_data.py is missing "
              f"under {ROOT}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    work = BENCH / ".work" / f"run-{os.getpid()}"
    cache = BENCH / ".cache"
    _isolate(work)
    try:
        result, artifact = run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = BENCH / "results"
    out.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    (out / name).write_text(json.dumps(artifact, indent=1, default=str))
    _print_summary(artifact, result)
    print(f"  artifact: {(out / name).relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
