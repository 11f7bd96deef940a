"""The cohort batch: the paper's ETL run cold through the CLI, then an
incremental load of a Specimen delta through the upsert sink.

A batch is ``transform -p 1kgenomes``, ``transform -p gtex`` and
``validate`` on each META directory, each through ``fhir_etl_spark.cli.main``
in a process whose Spark session the batch itself starts, followed by
``sinks.upsert.create_or_extend(update_existing=True)`` of the delta into
the GTEx ``Specimen.ndjson``.

Traced runs also time each lazy layer by materializing growing prefixes of
the same plans into the noop sink once the batch is done (scan; + fhirize;
+ serialize; the full NDJSON write): a layer's self time is the difference
between consecutive prefixes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
import traceback
from dataclasses import replace

from perfbench import checks

FALLBACK_MARK = "Whole-stage codegen disabled"


def cli_verbs(inputs: str, out: str) -> list[tuple[str, list[str]]]:
    k, g = os.path.join(inputs, "onekg"), os.path.join(inputs, "gtex")
    bronze = os.path.join(out, "bronze")
    return [
        ("transform_1kgenomes", [
            "transform", "-p", "1kgenomes", "--meta-dir", os.path.join(out, "onekg"),
            "--bronze-dir", bronze,
            "--sample-info", os.path.join(k, "sample_info.tsv"),
            "--ftp-listing", os.path.join(k, "ftp_listing.json"),
            "--vcf-header", os.path.join(k, "vcf_header.txt"),
        ]),
        ("transform_gtex", [
            "transform", "-p", "gtex", "--meta-dir", os.path.join(out, "gtex"),
            "--bronze-dir", bronze,
            "--subjects", os.path.join(g, "subjects"),
            "--samples", os.path.join(g, "samples"),
            "--filelist", os.path.join(g, "filelist.json"),
            "--annotations", os.path.join(g, "annotations.tsv"),
        ]),
        ("validate", ["validate", "--path", os.path.join(out, "onekg")]),
        ("validate", ["validate", "--path", os.path.join(out, "gtex")]),
    ]


def run_batch(inputs: str, out: str, tracer, stderr_log) -> dict:
    """One timed batch. Returns phase seconds, per-operation outcomes and
    the validate summaries; never raises for an engine failure."""
    from fhir_etl_spark import cli
    from fhir_etl_spark.session import get_spark

    rec: dict = {"phases": {}, "ops": [], "validate": [], "fallbacks": {}}

    def phase(name: str, seconds: float) -> None:
        rec["phases"][name] = rec["phases"].get(name, 0.0) + seconds

    t_batch = time.perf_counter()
    with tracer.span("cohort.batch"):
        with tracer.span("session.start"):
            spark = get_spark("fhir_etl_spark_cli")  # cli.main reuses this session
        phase("session.start", time.perf_counter() - t_batch)
        tracer.attach(spark)
        for verb, argv in cli_verbs(inputs, out):
            buf, mark = io.StringIO(), stderr_log.tell()
            t = time.perf_counter()
            with tracer.span(f"cli.{verb}"), contextlib.redirect_stdout(buf):
                try:
                    rc = cli.main(argv)
                except Exception:  # noqa: BLE001 — a failing verb is a measured failure
                    traceback.print_exc()
                    rc = -1
            phase(f"cli.{verb}", time.perf_counter() - t)
            rec["fallbacks"][verb] = rec["fallbacks"].get(verb, 0) + stderr_log.count(FALLBACK_MARK, mark)
            rec["ops"].append((f"cli {' '.join(argv[:3])}", rc == 0))
            if verb == "validate":
                lines = buf.getvalue().splitlines()
                rec["validate"].append((json.loads(lines[0])["summary"] if lines else {}, rc == 0))
        t = time.perf_counter()
        with tracer.span("sinks.upsert.merge"):
            try:
                _upsert(spark, inputs, out)
                ok = True
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
        phase("sinks.upsert.merge", time.perf_counter() - t)
        rec["ops"].append(("upsert delta", ok))
    rec["batch_wall_s"] = time.perf_counter() - t_batch
    rec["spark"] = spark
    return rec


def _upsert(spark, inputs: str, out: str) -> None:
    from fhir_etl_spark.operators.fhirize_gtex import fhirize_specimen_gtex
    from fhir_etl_spark.sinks.upsert import create_or_extend

    delta = spark.read.parquet(os.path.join(inputs, "gtex", "delta.parquet"))
    create_or_extend(
        spark, fhirize_specimen_gtex(delta), os.path.join(out, "gtex"), "Specimen",
        update_existing=True,
    )


def check_batch(rec: dict, out: str, expect) -> tuple[list[tuple[str, bool]], dict]:
    """Run every output check on the batch's files (outside the timed
    region). Returns (check outcomes, stats for the metrics)."""
    metas = {c: checks.read_meta(os.path.join(out, c)) for c in ("onekg", "gtex")}
    results: list[tuple[str, list[str]]] = []
    for i, cohort in enumerate(("onekg", "gtex")):
        summary, ok = rec["validate"][i] if i < len(rec["validate"]) else ({}, False)
        results.append((f"validate {cohort}", checks.check_validate(summary, ok, cohort, expect)))
    results.append(("onekg outputs", checks.check_cohort(metas["onekg"], "onekg", expect)))
    # by now the GTEx Specimen file also holds the delta's new rows
    gtex_counts = {**expect.counts["gtex"]}
    gtex_counts["Specimen"] += len(expect.delta_new)
    after_upsert = replace(expect, counts={**expect.counts, "gtex": gtex_counts})
    results.append(("gtex outputs", checks.check_cohort(metas["gtex"], "gtex", after_upsert)))
    specimens = metas["gtex"].get("Specimen", [])
    results.append(("upsert precedence", checks.check_upsert(specimens, expect)))
    for name, errs in results:
        for e in errs[:5]:
            print(f"check failed: {name}: {e}", flush=True)
    stats = {
        "digest": checks.digest(metas),
        "validated_lines": sum(sum(s.values()) for s, _ in rec["validate"]),
        "written_resources": sum(sum(c.values()) for c in expect.counts.values()),
        "specimen_mb": os.path.getsize(os.path.join(out, "gtex", "Specimen.ndjson")) / 2**20,
        "delta_mb": sum(len(ln) + 1 for ln in specimens if expect.delta_marker in ln) / 2**20,
    }
    return [(name, not errs) for name, errs in results], stats


# ---------------------------------------------------------------------------
# traced runs only: per-layer attribution by prefix materialization
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _prefixes(frames: dict, scan, out_dir: str) -> dict[str, float]:
    """scan / +fhirize / +serialize / full write times for ``frames``
    (resource type -> fhirized DataFrame built over the ``scan`` frame)."""
    from fhir_etl_spark.sinks.ndjson import serialize, write_ndjson

    n = len(frames)
    t_scan = _time(lambda: _noop(scan)) * n  # each frame rescans
    t_fz = _time(lambda: [_noop(df) for df in frames.values()])
    t_ser = _time(lambda: [_noop(serialize(df)) for df in frames.values()])
    t_write = _time(lambda: [write_ndjson(df, out_dir, r) for r, df in frames.items()])
    return {
        "scan_s": t_scan,
        "exec_s": max(t_fz - t_scan, 0.0),
        "serialize_s": max(t_ser - t_fz, 0.0),
        "write_s": max(t_write - t_ser, 0.0),
    }


def attribute(spark, inputs: str, out: str, tracer, expect) -> dict[str, float]:
    """Time each layer of the batch from outside, in the warm session the
    batch leaves behind. Returns per-layer metrics."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators import fhirize as fz
    from fhir_etl_spark.operators import fhirize_gtex as fg
    from fhir_etl_spark.operators.membership import (
        membership_split,
        specimen_identifier_values,
        vcf_header_sample_ids,
    )
    from fhir_etl_spark.pipelines.gtex import transform_gtex
    from fhir_etl_spark.pipelines.onekg import read_sample_info, transform_1k, transform_1k_files
    from fhir_etl_spark.schemas import systems as S
    from fhir_etl_spark.schemas.inputs import (
        GTEX_FILELIST,
        GTEX_SAMPLE,
        GTEX_SUBJECT,
        ONEKG_SAMPLE_INFO_COLUMNS,
    )
    from fhir_etl_spark.sinks.ndjson import write_ndjson
    from fhir_etl_spark.sources.ftp import FtpListingDataSource
    from fhir_etl_spark.sources.rest import PaginatedRestDataSource

    k, g = os.path.join(inputs, "onekg"), os.path.join(inputs, "gtex")
    scratch = os.path.join(out, "attribution")
    m: dict[str, float] = {}
    spark.dataSource.register(PaginatedRestDataSource)
    spark.dataSource.register(FtpListingDataSource)

    def rest(name: str, schema):
        return (
            spark.read.format("paginated_rest")
            .option("fixture_dir", os.path.join(g, name))
            .option("fields", ",".join(f.name for f in schema.fields))
            .load()
        )

    # sources: each Python DataSource scanned alone
    samples = rest("samples", GTEX_SAMPLE)
    with tracer.span("sources.rest.scan"):
        m["sources.rest.scan_s"] = _time(lambda: _noop(samples))
    m["sources.rest.rows_per_s"] = expect.counts["gtex"]["Specimen"] / m["sources.rest.scan_s"]
    listing = spark.read.format("ftp_listing").option(
        "fixture_json", os.path.join(k, "ftp_listing.json")).load()
    with tracer.span("sources.ftp.scan"):
        m["sources.ftp.scan_s"] = _time(lambda: _noop(listing))

    # pipelines: the stage split, warm, in-process
    with tracer.span("pipelines.onekg.transform_1k"):
        t = time.perf_counter()
        transform_1k(spark, os.path.join(k, "sample_info.tsv"), os.path.join(scratch, "onekg"))
        m["pipelines.onekg.transform_1k_s"] = time.perf_counter() - t
    with tracer.span("pipelines.onekg.transform_1k_files"):
        t = time.perf_counter()
        transform_1k_files(spark, listing, os.path.join(k, "vcf_header.txt"), os.path.join(scratch, "onekg"))
        m["pipelines.onekg.transform_1k_files_s"] = time.perf_counter() - t
    with tracer.span("pipelines.gtex.transform_gtex"):
        t = time.perf_counter()
        transform_gtex(
            spark, rest("subjects", GTEX_SUBJECT), samples,
            spark.read.schema(GTEX_FILELIST).json(os.path.join(g, "filelist.json")),
            spark.read.option("sep", "\t").option("header", True).csv(os.path.join(g, "annotations.tsv")),
            os.path.join(scratch, "gtex"),
        )
        m["pipelines.gtex.transform_gtex_s"] = time.perf_counter() - t

    # fhirize / serialize / NDJSON sink, 1KG over the TSV scan
    sample_info = read_sample_info(spark, os.path.join(k, "sample_info.tsv"))
    with tracer.span("operators.fhirize.plan"):
        t = time.perf_counter()
        frames = {
            "Patient": fz.fhirize_patient_1kg(sample_info),
            "ResearchSubject": fz.fhirize_research_subject_1kg(sample_info),
            "Specimen": fz.fhirize_specimen_1kg(sample_info),
        }
        m["operators.fhirize.plan_s"] = time.perf_counter() - t
    with tracer.span("operators.fhirize.prefixes"):
        p1 = _prefixes(frames, sample_info.select(*ONEKG_SAMPLE_INFO_COLUMNS), os.path.join(scratch, "p1"))
    rows_1k = 3 * expect.counts["onekg"]["Patient"]
    m["operators.fhirize.exec_s"] = p1["exec_s"]
    m["operators.fhirize.rows_per_s"] = rows_1k / max(p1["exec_s"], 1e-3)

    # the same for GTEx Specimens over a parquet copy of the REST pages,
    # so the REST source's cost stays out of the differences
    samples_pq = os.path.join(scratch, "samples.parquet")
    samples.write.parquet(samples_pq)
    samples_t = spark.read.parquet(samples_pq)
    with tracer.span("operators.fhirize_gtex.plan"):
        t = time.perf_counter()
        gframes = {"Specimen": fg.fhirize_specimen_gtex(samples_t)}
        m["operators.fhirize_gtex.plan_s"] = time.perf_counter() - t
    with tracer.span("operators.fhirize_gtex.prefixes"):
        p2 = _prefixes(gframes, samples_t, os.path.join(scratch, "p2"))
    rows_g = expect.counts["gtex"]["Specimen"]
    m["operators.fhirize_gtex.exec_s"] = p2["exec_s"]
    m["operators.fhirize_gtex.rows_per_s"] = rows_g / max(p2["exec_s"], 1e-3)
    m["sinks.ndjson.serialize_s"] = p1["serialize_s"] + p2["serialize_s"]
    m["sinks.ndjson.write_s"] = p1["write_s"] + p2["write_s"]

    # uuid5 minting alone: one id column over the parquet scan
    with tracer.span("functions.identity.mint"):
        t_mint = _time(lambda: _noop(samples_t.select(fg.gtex_mint("Specimen", F.col("aliquotId")))))
        t_scan = _time(lambda: _noop(samples_t.select("aliquotId")))
    m["functions.identity.mint_rows_per_s"] = rows_g / max(t_mint - t_scan, 1e-3)

    # NDJSON sink task count and bytes for one full write of the batch
    before = tracer.counters.read() if tracer.counters else None
    write_dir = os.path.join(scratch, "p3")
    for r, df in {**frames, **{"GtexSpecimen": gframes["Specimen"]}}.items():
        write_ndjson(df, write_dir, r)
    if before is not None:
        m["sinks.ndjson.write_tasks"] = tracer.counters.read()["tasks"] - before["tasks"]
    m["sinks.ndjson.mb_written"] = sum(
        os.path.getsize(os.path.join(write_dir, f)) for f in os.listdir(write_dir)) / 2**20

    # semi-join membership
    with tracer.span("operators.membership.split"):
        header_ids = vcf_header_sample_ids(spark, os.path.join(k, "vcf_header.txt"))
        spec = specimen_identifier_values(
            spark, os.path.join(out, "onekg", "Specimen.ndjson"), S.ONEKG_DISPLAY_SYSTEM)
        t = time.perf_counter()
        found, missing = membership_split(header_ids, spec)
        m["operators.membership.found"] = found.count()
        m["operators.membership.missing"] = missing.count()
        m["operators.membership.split_s"] = time.perf_counter() - t
    shutil.rmtree(scratch, ignore_errors=True)
    return m
