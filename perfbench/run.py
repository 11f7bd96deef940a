#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {cohort,query_mix} --seed N \
        --seconds S --trace {0,1}

Workloads (a closed loop with one client: one batch at a time, one process,
Spark ``local[<cpus>]``):

- ``cohort``: the paper's ETL run cold through the CLI in this fresh
  process — ``transform -p 1kgenomes``, ``transform -p gtex``, ``validate``
  on each META directory — then a Specimen delta upserted into the GTEx
  output.
- ``query_mix``: seven registry queries over generated tables, in a
  seed-permuted order. Set-up checks every query against its DuckDB oracle
  and pins a digest of each result (this also warms the session). Each
  timed pass then runs every query and brings its rows to the driver; the
  rows are re-checked against the pinned digests outside the timed region.

A cohort run measures one batch. A query_mix run measures passes until
``--seconds`` have passed and at least ``QUERY_PASSES`` were made, and
reports their median. BENCHMARK.json sets 5 s, shorter than a cohort batch
(about 60 s on 4 cores) and than two passes (about 16 s), so every run of a
workload measures the same number of batches. Each output's digest is also kept per seed in
``.perfbench_runs/digests.json``, and a run whose digest differs from an
earlier run of the same seed fails.

Inputs come from generators seeded with ``--seed``; the engine only sees the
generated files. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
exit code is non-zero when an output check fails or the engine is missing.

Everything the run writes stays under ``.perfbench_runs/`` in the checkout:
inputs, outputs, Spark scratch, temp files and the JVM's stderr, removed at
the end, plus one JSON record per run in ``.perfbench_runs/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
sys.path.insert(0, ROOT)

CPUS = len(os.sched_getaffinity(0))
# session.py defaults to 48g of driver heap; the benchmark host has 15 GiB
# shared with other work, so the heap is pinned well below that
DRIVER_MEM = "3g"
SETUP_REPEATS = 3
# 30,000 lineitem rows; 500 documents (about 13,500 candidate pairs for the
# exact-Jaccard miner that d6 and c4 share) and 500 embeddings
QUERY_SCALE = 0.005
QUERY_PASSES = 2  # timed passes per run; the batch metric is their median


def cohort_size():
    from perfbench.cohort_gen import CohortSize

    # 1KG at the reference's volume (3,500 samples); GTEx with the
    # reference's 980 subjects and 10,000 of its 43,559 samples (100 REST
    # pages), and a 4,000-row delta: half replaces ids, half is new
    return CohortSize(onekg_samples=3500, gtex_subjects=980, gtex_samples=10_000, delta_rows=4000)


END_TO_END = {
    "setup_s": "s",
    "batch_wall_s": "s",
    "peak_rss_mb": "MB",
}


class StderrLog:
    """fd 2 of this process — and so the JVM's stderr — redirected to a
    file, so the run can count log lines per phase."""

    def __init__(self, path: str):
        self.path = path
        sys.stderr.flush()
        self._saved = os.dup(2)
        self._fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(self._fd, 2)

    def tell(self) -> int:
        sys.stderr.flush()
        return os.path.getsize(self.path)

    def count(self, needle: str, start: int) -> int:
        sys.stderr.flush()
        with open(self.path, errors="replace") as f:
            f.seek(start)
            return f.read().count(needle)

    def restore(self) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        os.close(self._fd)

    def tail(self, n: int = 60) -> str:
        with open(self.path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _children() -> dict[int, list[int]]:
    """pid -> child pids, for every process visible in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    children.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return children


def _descendants(root: int) -> list[int]:
    children, out, stack = _children(), [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size summed over ``root`` and every descendant (the
    JVM, the Python workers' daemon and the workers it forks): each shared
    page is split between the processes that map it, so it counts once."""
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            continue
    return total


class PeakMemory(threading.Thread):
    """Samples the memory of this process tree (see ``_tree_pss_bytes``)
    every 0.25 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop_evt.wait(0.25)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return max(self.peak, _tree_pss_bytes(os.getpid())) / 2**20


def pin_host(run_dir: str, cpus: int = CPUS) -> dict:
    """Pin the engine's host settings; every path is inside the run dir."""
    local, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python DataSource workers import fhir_etl_spark by name and do not
        # see the driver's sys.path (without this, transform with REST/FTP
        # inputs fails with ModuleNotFoundError inside the worker)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_UI": "false",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def shutdown_spark(timeout: float = 60.0) -> None:
    """Stop the Spark session, close the JVM gateway and wait until the JVM
    and every other process this one started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = _descendants(os.getpid())
    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # the JVM's Python workers outlive it briefly: wait for each, then kill
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(_alive, started):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while any(_alive(p) for p in started) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def same_as_earlier_runs(key: str, digest: str) -> bool:
    """True unless an earlier run in this checkout recorded another digest
    under ``key``; records this one otherwise."""
    path = os.path.join(RUNS, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen:
        return seen[key] == digest
    seen[key] = digest
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return True


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_cohort(seed: int, seconds: float, tracer, stderr_log, run_dir: str) -> dict:
    from perfbench import cohort, cohort_gen

    size = cohort_size()
    gen_times, expect = [], None
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        e = cohort_gen.generate(seed, size, os.path.join(run_dir, f"inputs{i}"))
        gen_times.append(time.perf_counter() - t)
        expect = expect or e
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(run_dir, f"inputs{i}"))
    inputs, out = os.path.join(run_dir, "inputs0"), os.path.join(run_dir, "out")

    rec = cohort.run_batch(inputs, out, tracer, stderr_log)
    ph = rec["phases"]
    checked, stats = cohort.check_batch(rec, out, expect)
    ops = rec["ops"] + checked
    ops.append(("NDJSON digest as in earlier runs", same_as_earlier_runs(f"cohort:{seed}:{size}", stats["digest"])))

    transform_s = ph.get("cli.transform_1kgenomes", 0) + ph.get("cli.transform_gtex", 0)
    layer = {
        "batch.resources_per_s": stats["written_resources"] / transform_s,
        "batch.validate_lines_per_s": stats["validated_lines"] / ph["cli.validate"],
        "batch.upsert_rows_per_s": size.delta_rows / ph["sinks.upsert.merge"],
        "run.traced_batch_wall_s": rec["batch_wall_s"],
        "session.start_s": ph["session.start"],
        "cli.codegen_fallbacks": sum(rec["fallbacks"].values()),
        "operators.validate.validate_dir_s": ph["cli.validate"],
        "operators.validate.lines_per_s": stats["validated_lines"] / ph["cli.validate"],
        "operators.validate.codegen_fallbacks": rec["fallbacks"].get("validate", 0),
        "sinks.upsert.merge_s": ph["sinks.upsert.merge"],
        "sinks.upsert.rows_replaced": len(expect.delta_replaced),
        "sinks.upsert.rows_inserted": len(expect.delta_new),
        "sinks.upsert.mb_rewritten_per_mb_delta": stats["specimen_mb"] / max(stats["delta_mb"], 1e-9),
    }
    for verb in ("transform_1kgenomes", "transform_gtex", "validate"):
        layer[f"cli.{verb}_s"] = ph.get(f"cli.{verb}", 0.0)
    if tracer.enabled:
        spans = tracer.spans
        for verb in ("transform_1kgenomes", "transform_gtex", "validate"):
            vs = [s for s in spans if s["name"] == f"cli.{verb}"]
            layer[f"{verb}.jobs"] = sum(s["counters"]["jobs"] for s in vs)
            layer[f"{verb}.codegen_compile_s"] = sum(s["counters"]["codegen_compile_s"] for s in vs)
        layer["sources.rest.scans_per_batch"] = _rest_scans(rec["spark"], tracer)
        layer.update(cohort.attribute(rec["spark"], inputs, out, tracer, expect))
    return {
        "setup_s": _median(gen_times),
        "batch_wall_s": rec["batch_wall_s"],
        "ops": ops,
        "layer": layer,
        "record": {"digest": stats["digest"], "phases": ph, "gen_times": gen_times,
                   "fallbacks": rec["fallbacks"]},
    }


def _rest_scans(spark, tracer) -> int:
    """Scans of the REST source in the SQL executions the GTEx transform
    ran (read from the SQL status store's plan graphs)."""
    span = next(s for s in tracer.spans if s["name"] == "cli.transform_gtex")
    lo = span["at_start"]["sql_executions"]
    hi = lo + span["counters"]["sql_executions"]
    store = spark._jsparkSession.sharedState().statusStore()
    n = 0
    for eid in range(lo, hi):
        try:
            nodes = store.planGraph(eid).allNodes()
        except Exception:  # noqa: BLE001 — execution evicted
            continue
        n += sum(1 for i in range(nodes.size()) if "paginated_rest" in nodes.apply(i).name())
    return n


def run_query_mix(seed: int, seconds: float, tracer, stderr_log, run_dir: str) -> dict:
    from perfbench import query_mix as qm
    from perfbench import tables_gen

    gen_times = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        tables_gen.generate(seed, QUERY_SCALE, os.path.join(run_dir, f"tables{i}"))
        gen_times.append(time.perf_counter() - t)
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(run_dir, f"tables{i}"))
    data = os.path.join(run_dir, "tables0")

    from fhir_etl_spark.queries import all_queries
    from fhir_etl_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench_query_mix")
    tracer.attach(spark)
    registry = all_queries()
    names = qm.order_for(seed)
    pinned, oracle_errors = qm.oracle_check(spark, registry, data, names)
    warm_s = time.perf_counter() - t

    passes, per_query, run_errors, recheck_errors = [], {n: [] for n in names}, [], []
    t_end = time.perf_counter() + seconds
    while len(passes) < QUERY_PASSES or time.perf_counter() < t_end:
        t = time.perf_counter()
        with tracer.span("queries.pass"):
            result = qm.timed_pass(spark, registry, data, names, tracer)
        passes.append(time.perf_counter() - t)
        run_errors += [f"{n}: raised in a timed pass" for n, r in result.items() if r is None]
        recheck_errors += qm.check_digests({n: None if r is None else r[2] for n, r in result.items()}, pinned)
        for n, r in result.items():
            if r is not None:
                per_query[n].append(r[:2])
    repeat_ok = same_as_earlier_runs(f"query_mix:{seed}:{QUERY_SCALE}:v2", json.dumps(pinned, sort_keys=True))
    for e in oracle_errors + run_errors + recheck_errors + ([] if repeat_ok else ["digests differ from an earlier run"]):
        print(f"check failed: {e}", flush=True)
    ops = [
        (f"{step} {n}", not any(e.startswith(f"{n}:") for e in errs))
        for step, errs in (("oracle", oracle_errors), ("run", run_errors), ("recheck", recheck_errors))
        for n in names
    ]
    ops.append(("digests as in earlier runs of this seed", repeat_ok))

    layer = {"run.traced_batch_wall_s": _median(passes)}
    for n in names:
        layer[f"queries.{n}.build_s"] = _median([b for b, _ in per_query[n]])
        layer[f"queries.{n}.exec_s"] = _median([x for _, x in per_query[n]])
    if tracer.enabled:
        for n in names:
            spans = [s for s in tracer.spans if s["name"] == f"queries.{n}"]
            layer[f"queries.{n}.jobs"] = _median([s["counters"]["jobs"] for s in spans])
            layer[f"queries.{n}.shuffle_write_mb"] = _median([s["counters"]["shuffle_write_mb"] for s in spans])
        layer.update(_dedup_pairs(spark, data, tracer))
    return {
        "setup_s": _median(gen_times) + warm_s,
        "batch_wall_s": _median(passes),
        "ops": ops,
        "layer": layer,
        "record": {"passes": passes, "per_query": per_query, "pinned": pinned, "gen_times": gen_times,
                   "warm_s": warm_s},
    }


def _dedup_pairs(spark, data: str, tracer) -> dict[str, float]:
    """Candidate and result pair counts of the exact-Jaccard miner that d6
    and c4 share, from the SQL metrics of one noop run of its public
    function: candidates are the rows of the pair explode (the topmost
    Generate node), results the rows the operator returns."""
    from fhir_etl_spark.operators.dedup import ngram_jaccard_pairs
    from fhir_etl_spark.session import load_tables

    store = spark._jsparkSession.sharedState().statusStore()
    pairs = ngram_jaccard_pairs(load_tables(spark, data, "documents"), threshold=0.5)
    lo = store.executionsCount()
    with tracer.span("operators.dedup.pairs"):
        pairs.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    candidates = 0
    for eid in range(lo, store.executionsCount()):
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "Generate":
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                if ms.apply(j).name() == "number of output rows":
                    v = values.get(ms.apply(j).accumulatorId())
                    candidates = int(v.get().replace(",", "")) if v.isDefined() else 0
            break  # topmost Generate only
    result = pairs.count()
    return {
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.result_pairs": result,
        "operators.dedup.pair_yield": result / candidates if candidates else 0.0,
    }


WORKLOADS = {"cohort": run_cohort, "query_mix": run_query_mix}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import fhir_etl_spark.cli  # noqa: F401
        import fhir_etl_spark.queries  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_host(run_dir)
    loadavg = os.getloadavg()
    stderr_log = StderrLog(os.path.join(run_dir, "stderr.log"))
    memory = PeakMemory()
    memory.start()
    tracer = Tracer(bool(args.trace), run_id)
    result, crashed = None, False
    try:
        result = WORKLOADS[args.workload](args.seed, args.seconds, tracer, stderr_log, run_dir)
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        crashed = True
    finally:
        peak_mb = memory.stop()
        shutdown_spark()
        stderr_log.restore()
    if crashed:
        sys.stderr.write(stderr_log.tail())
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    ops = result["ops"]
    failed = sum(1 for _, ok in ops if not ok)
    correct = failed == 0
    if args.trace:
        # a layer the workload leaves idle reports 0
        layer = result["layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_units().items()}
    else:
        values = {"setup_s": result["setup_s"], "batch_wall_s": result["batch_wall_s"], "peak_rss_mb": peak_mb}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "loadavg_at_start": loadavg, "cpus": CPUS, "env": {k: v for k, v in env.items() if k != "PYTHONPATH"},
        "peak_rss_mb": peak_mb, "ops": ops, "metrics": metrics, **result["record"],
    }
    if args.trace:
        record["spans"] = tracer.spans
    os.makedirs(os.path.join(RUNS, "records"), exist_ok=True)
    with open(os.path.join(RUNS, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, default=str)
    if not correct:
        sys.stderr.write(stderr_log.tail())
    shutil.rmtree(run_dir, ignore_errors=True)

    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(f"loadavg at start {loadavg[0]:.2f} {loadavg[1]:.2f} {loadavg[2]:.2f}; cpus {CPUS}; "
          f"{len(ops)} operations, {failed} failed")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
