#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs both workloads' checks on tiny generated inputs and proves that each
check can fail:

- the cohort batch (cold CLI verbs + upsert) passes every output check, and
  its digest is the same in a second batch and in a fresh process with
  half the cores;
- a truncated NDJSON line, a dropped Specimen and a lost upserted row each
  fail a check;
- the query mix passes its DuckDB oracles and digest re-check, and a wrong
  pinned digest and a changed result value each fail.

The data work takes seconds; the wall time is mostly Spark's cold start in
the two processes. Exits non-zero on the first expectation not met.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, cohort, cohort_gen, query_mix, run, tables_gen  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

TINY = cohort_gen.CohortSize(onekg_samples=60, gtex_subjects=20, gtex_samples=300, delta_rows=40)
SEED = 7


def expect_true(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        raise SystemExit(1)


def batch_digest(inputs: str, out: str, expect, stderr_log) -> str:
    rec = cohort.run_batch(inputs, out, Tracer(False, "selftest"), stderr_log)
    outcomes, stats = cohort.check_batch(rec, out, expect)
    failed = [name for name, ok in outcomes + rec["ops"] if not ok]
    expect_true(not failed, f"cohort batch in {os.path.basename(out)} passes every check {failed or ''}")
    return stats["digest"]


def _rewrite(path: str, edit) -> None:
    with open(path) as f:
        lines = f.read().split("\n")
    with open(path, "w") as f:
        f.write("\n".join(edit(lines)))


def negative_cohort_cases(out: str, expect) -> None:
    base = os.path.join(os.path.dirname(out), "tampered")

    def tampered(edit_file: str, edit) -> dict:
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(out, base)
        _rewrite(os.path.join(base, edit_file), edit)
        return {c: checks.read_meta(os.path.join(base, c)) for c in ("onekg", "gtex")}

    metas = tampered("onekg/Patient.ndjson", lambda ls: [ls[0][: len(ls[0]) // 2]] + ls[1:])
    expect_true(bool(checks.check_cohort(metas["onekg"], "onekg", expect)), "a truncated NDJSON line fails")
    metas = tampered("onekg/Specimen.ndjson", lambda ls: ls[1:])
    expect_true(bool(checks.check_cohort(metas["onekg"], "onekg", expect)), "a dropped Specimen fails")
    new_ids = {checks.expected_id("gtex", "Specimen", a) for a in expect.delta_new}
    metas = tampered("gtex/Specimen.ndjson", lambda ls: [ln for ln in ls if not any(i in ln for i in new_ids)])
    expect_true(bool(checks.check_upsert(metas["gtex"]["Specimen"], expect)), "a lost upserted Specimen fails")
    shutil.rmtree(base)


def query_cases(spark, data: str) -> None:
    from fhir_etl_spark.queries import all_queries

    registry = all_queries()
    names = query_mix.order_for(SEED)
    pinned, errors = query_mix.oracle_check(spark, registry, data, names)
    expect_true(not errors, f"every query matches its oracle {errors or ''}")
    results = {n: r[2] for n, r in query_mix.timed_pass(spark, registry, data, names, Tracer(False, "selftest")).items()}
    expect_true(not query_mix.check_digests(results, pinned), "a timed pass re-checks against the pinned digests")
    wrong = dict(pinned, **{names[0]: "0" * 64})
    expect_true(bool(query_mix.check_digests(results, wrong)), "a wrong query digest fails")
    q3 = registry["q3_shipping_priority"].fn(spark, data).toPandas()
    expected = q3.copy()
    expected.loc[0, "revenue"] += 0.02  # two cents: beyond the one-cent tie tolerance
    expect_true(bool(query_mix.compare("q3_shipping_priority", q3, expected)), "a changed oracle value fails")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--digest-of", help=argparse.SUPPRESS)  # child: inputs dir
    ap.add_argument("--out", help=argparse.SUPPRESS)
    args = ap.parse_args()
    work = os.path.join(run.RUNS, "selftest")

    if args.digest_of:  # child process: one batch, print its digest
        run.pin_host(os.path.join(work, "child"), cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        expect = cohort_gen.generate(SEED, TINY, os.path.join(work, "child", "regen"))
        log = run.StderrLog(os.path.join(work, "child", "stderr.log"))
        try:
            digest = batch_digest(args.digest_of, args.out, expect, log)
            from pyspark.sql import SparkSession

            master = SparkSession.getActiveSession().sparkContext.master
            run.shutdown_spark()
        finally:
            log.restore()
        print(f"master {master}")
        print(f"digest {digest}")
        return 0

    t0 = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.pin_host(os.path.join(work, "parent"))
    inputs = os.path.join(work, "inputs")
    expect = cohort_gen.generate(SEED, TINY, inputs)
    again = cohort_gen.generate(SEED, TINY, os.path.join(work, "inputs_again"))
    expect_true(expect == again, "the cohort generator is deterministic")
    log = run.StderrLog(os.path.join(work, "stderr.log"))
    try:
        d1 = batch_digest(inputs, os.path.join(work, "out1"), expect, log)
        d2 = batch_digest(inputs, os.path.join(work, "out2"), expect, log)
        expect_true(d1 == d2, "the NDJSON digest repeats across batches")
        negative_cohort_cases(os.path.join(work, "out1"), expect)

        from pyspark.sql import SparkSession

        data = os.path.join(work, "tables")
        tables_gen.generate(SEED, 0.0005, data)
        query_cases(SparkSession.getActiveSession(), data)
        run.shutdown_spark()
    finally:
        log.restore()

    half = max(1, run.CPUS // 2)
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--digest-of", inputs, "--out", os.path.join(work, "out3")],
        env={**os.environ, "SPARK_GRAFT_CPUS": str(half)}, capture_output=True, text=True, timeout=600,
    )
    print(child.stdout, end="")
    expect_true(child.returncode == 0 and f"master local[{half}]" in child.stdout and f"digest {d1}" in child.stdout,
                f"the NDJSON digest is the same at SPARK_GRAFT_CPUS={half}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"selftest passed in {time.perf_counter() - t0:.0f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
