#!/usr/bin/env python3
"""Attribution table from the run records in ``.perfbench_runs/records``.

    python3 perfbench/attribution.py > perfbench/ATTRIBUTION.md

For each workload it takes the first traced run, splits its traced batch
into the layers the spans name (self time and share of the traced batch
wall, with the Spark counters of each span), lists the prefix-difference
layer split and the codegen fallbacks, and states the tracing overhead:
the median traced batch wall minus the median untraced one, over the seeds
run both ways.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import RUNS  # noqa: E402
from perfbench.trace import self_times  # noqa: E402

ROOT_SPAN = {"cohort": "cohort.batch", "query_mix": "queries.pass"}
COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "codegen_compiles", "codegen_compile_s")


def batch_spans(rec: dict) -> tuple[dict, list[dict]]:
    root = next(s for s in rec["spans"] if s["name"] == ROOT_SPAN[rec["workload"]])
    inside = [s for s in rec["spans"] if root["start"] <= s["start"] and s["end"] <= root["end"]]
    return root, inside


def _fmt(v) -> str:
    return f"{v:.3g}" if isinstance(v, float) else str(v)


def workload_section(name: str, traced: list[dict], untraced: list[dict]) -> list[str]:
    rec = traced[0]
    root, spans = batch_spans(rec)
    wall = root["end"] - root["start"]
    selfs = self_times(spans)
    out = [f"## {name}", ""]
    out.append(f"Traced run: seed {rec['seed']}, loadavg at start {rec['loadavg_at_start'][0]:.2f}, "
               f"cpus {rec['cpus']}. Traced batch wall: {wall:.2f} s.")
    out.append("")
    out.append("| layer (span) | calls | self s | share of batch | " + " | ".join(COUNTERS) + " |")
    out.append("|---|---|---|---|" + "---|" * len(COUNTERS))
    covered = 0.0
    parents = {s["parent"] for s in spans}
    for span_name in dict.fromkeys(s["name"] for s in spans):
        if span_name == root["name"]:
            continue
        group = [s for s in spans if s["name"] == span_name]
        covered += selfs[span_name]
        # a parent span's counters include its children's: shown once, on the children
        totals = {c: "" if span_name in parents else _fmt(sum(s.get("counters", {}).get(c, 0) for s in group))
                  for c in COUNTERS}
        out.append(f"| `{span_name}` | {len(group)} | {selfs[span_name]:.2f} | "
                   f"{100 * selfs[span_name] / wall:.1f}% | " + " | ".join(totals[c] for c in COUNTERS) + " |")
    out.append(f"| (outside any layer span) | | {wall - covered:.2f} | {100 * (wall - covered) / wall:.1f}% |"
               + " |" * len(COUNTERS))
    out.append("")
    out.append(f"Layer self times cover {100 * covered / wall:.1f}% of the traced batch wall.")
    if "fallbacks" in rec:
        out.append(f"Codegen fallbacks (\"Whole-stage codegen disabled\" in the process's stderr), per verb: "
                   f"{rec['fallbacks']}.")
    traced_by_seed = {r["seed"]: r["metrics"]["run.traced_batch_wall_s"]["value"] for r in traced}
    seeds = sorted({r["seed"] for r in untraced} & traced_by_seed.keys())
    if seeds:
        t_med = statistics.median(traced_by_seed[s] for s in seeds)
        u_med = statistics.median(r["metrics"]["batch_wall_s"]["value"] for r in untraced if r["seed"] in seeds)
        out.append(f"Tracing overhead on seeds {seeds}, run both ways: traced median {t_med:.2f} s minus "
                   f"untraced median {u_med:.2f} s = {t_med - u_med:+.2f} s ({100 * (t_med - u_med) / u_med:+.1f}%).")
    out.append("")
    out.append("Per-layer metrics of the same traced run (prefix differences and counters; 0 = idle here):")
    out.append("")
    out.append("| metric | value | unit |")
    out.append("|---|---|---|")
    for metric, m in rec["metrics"].items():
        if m["value"]:
            out.append(f"| `{metric}` | {m['value']:.4g} | {m['unit']} |")
    out.append("")
    return out


def main() -> int:
    records = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(RUNS, "records", "*.json")))]
    lines = ["# Attribution of the traced batches", "",
             "Generated by `python3 perfbench/attribution.py` from the run records. "
             "Self time is a span's duration minus its child spans' (see `perfbench/trace.py`).", ""]
    for name in ROOT_SPAN:
        traced = [r for r in records if r["workload"] == name and r["trace"] == 1]
        untraced = [r for r in records if r["workload"] == name and r["trace"] == 0]
        if traced:
            lines += workload_section(name, traced, untraced)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
