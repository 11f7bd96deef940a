"""Output checks that do not use the engine.

Each check reads the NDJSON files with plain Python and compares them with
what the generator computed from its own rows. A check returns a list of
error strings; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import uuid

from fhir_etl_spark.schemas import systems as S

MINT = {
    # cohort -> (site, project, identifier system hashed into every id)
    "onekg": (S.THOUSAND_GENOMES_SITE, S.ONEKG_PROJECT, S.ONEKG_MINT_SYSTEM),
    "gtex": (S.GTEX_SITE, S.GTEX_PROJECT, S.GTEX_METADATA_SYSTEM),
}


def expected_id(cohort: str, resource_type: str, value: str) -> str:
    site, project, system = MINT[cohort]
    ns = uuid.uuid3(uuid.NAMESPACE_DNS, site)
    return str(uuid.uuid5(ns, f"{project}/{resource_type}/{system}|{value}"))


def read_meta(meta_dir: str) -> dict[str, list[str]]:
    """resource type -> non-empty lines of ``{type}.ndjson``."""
    out = {}
    for path in sorted(glob.glob(os.path.join(meta_dir, "*.ndjson"))):
        with open(path) as f:
            out[os.path.basename(path)[: -len(".ndjson")]] = [ln for ln in f.read().split("\n") if ln.strip()]
    return out


def _parse(rtype: str, lines: list[str], errors: list[str]) -> list[dict]:
    objs = []
    for i, ln in enumerate(lines):
        try:
            obj = json.loads(ln)
        except ValueError:
            errors.append(f"{rtype}.ndjson line {i} is not JSON: {ln[:80]!r}")
            continue
        if obj.get("resourceType") != rtype:
            errors.append(f"{rtype}.ndjson line {i} has resourceType {obj.get('resourceType')!r}")
        objs.append(obj)
    return objs


def check_cohort(meta: dict[str, list[str]], cohort: str, expect) -> list[str]:
    """Per-type counts, unique ids, Group member count and a uuid5
    spot-check of Specimen ids."""
    errors: list[str] = []
    want = expect.counts[cohort]
    if sorted(meta) != sorted(want):
        errors.append(f"{cohort}: resource files {sorted(meta)} != {sorted(want)}")
    for rtype, n in want.items():
        objs = _parse(rtype, meta.get(rtype, []), errors)
        if len(meta.get(rtype, [])) != n:
            errors.append(f"{cohort}: {rtype} has {len(meta.get(rtype, []))} lines, expected {n}")
        ids = [o.get("id") for o in objs]
        if len(set(ids)) != len(ids):
            errors.append(f"{cohort}: {rtype} has duplicate ids")
        if rtype == "Group" and objs:
            got = len(objs[0].get("member", []))
            if got != expect.group_members[cohort]:
                errors.append(f"{cohort}: Group has {got} members, expected {expect.group_members[cohort]}")
        if rtype == "Specimen":
            idset = set(ids)
            for key in expect.specimen_keys[cohort]:
                if expected_id(cohort, "Specimen", key) not in idset:
                    errors.append(f"{cohort}: no Specimen with uuid5 id for {key}")
    return errors


def check_validate(summary: dict[str, int], ok: bool, cohort: str, expect) -> list[str]:
    """``validate`` must report zero errors and the generator's counts."""
    errors = [] if ok else [f"{cohort}: validate reported errors"]
    if summary != expect.counts[cohort]:
        errors.append(f"{cohort}: validate summary {summary} != {expect.counts[cohort]}")
    return errors


def check_upsert(specimen_lines: list[str], expect) -> list[str]:
    """Replaced ids carry the delta's value, new ids are present, every
    other Specimen is untouched, and no id repeats."""
    errors: list[str] = []
    by_id: dict[str, str] = {}
    for ln in specimen_lines:
        try:
            rid = json.loads(ln)["id"]
        except (ValueError, KeyError):
            errors.append(f"upsert: bad Specimen line {ln[:80]!r}")
            continue
        if rid in by_id:
            errors.append(f"upsert: duplicate Specimen id {rid}")
        by_id[rid] = ln
    delta = {expected_id("gtex", "Specimen", a) for a in expect.delta_replaced + expect.delta_new}
    want = expect.counts["gtex"]["Specimen"] + len(expect.delta_new)
    if len(by_id) != want:
        errors.append(f"upsert: {len(by_id)} Specimens, expected {want}")
    missing = [i for i in delta if i not in by_id]
    if missing:
        errors.append(f"upsert: {len(missing)} delta ids missing")
    stale = [i for i in delta if i in by_id and expect.delta_marker not in by_id[i]]
    if stale:
        errors.append(f"upsert: {len(stale)} delta ids do not carry the delta value")
    leaked = sum(1 for i, ln in by_id.items() if i not in delta and expect.delta_marker in ln)
    if leaked:
        errors.append(f"upsert: {leaked} untouched Specimens carry the delta value")
    return errors


def digest(metas: dict[str, dict[str, list[str]]]) -> str:
    """Order-insensitive digest of every NDJSON line: the sum, modulo
    2**256, of the SHA-256 of each (cohort, type, line) triple."""
    total = 0
    for cohort, meta in sorted(metas.items()):
        for rtype, lines in sorted(meta.items()):
            for ln in lines:
                total += int.from_bytes(hashlib.sha256(f"{cohort}\0{rtype}\0{ln}".encode()).digest(), "big")
    return f"{total % (1 << 256):064x}"
