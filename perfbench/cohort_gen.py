"""Seeded generator for the two FHIR cohorts (1000 Genomes and GTEx).

Writes the inputs in the CLI's staged formats — sample_info TSV, VCF
header, FTP-listing JSON fixture, REST page directories, fileList JSON and
the SAMPID annotations TSV — plus the upsert delta as parquet, and returns
what the outputs must look like, computed from the generated rows alone:
per-type resource counts, the Group member count, the ids whose uuid5 the
checks recompute, and the upsert delta's precedence expectations.

The engine never sees anything but these files.
"""

from __future__ import annotations

import json
import os
import random
import string
from dataclasses import dataclass, field

POPULATIONS = [
    ("GBR", "British in England and Scotland"),
    ("YRI", "Yoruba in Ibadan, Nigeria"),
    ("CEU", "Utah Residents (CEPH) with Northern and Western European Ancestry"),
    ("CHS", "Southern Han Chinese"),
    ("PUR", "Puerto Ricans from Puerto Rico"),
    ("FIN", "Finnish in Finland"),
    ("JPT", "Japanese in Tokyo, Japan"),
    ("LWK", "Luhya in Webuye, Kenya"),
    ("MXL", "Mexican Ancestry from Los Angeles USA"),
    ("PEL", "Peruvians from Lima, Peru"),
]
HARDY = [
    "Ventilator case",
    "Fast death - natural causes",
    "Slow death",
    "Intermediate death",
    "Fast death - violent",
]
AGE_BRACKETS = ["20-29", "30-39", "40-49", "50-59", "60-69", "70-79"]
TISSUES = [
    ("Whole_Blood", "Whole Blood"),
    ("Lung", "Lung"),
    ("Muscle_Skeletal", "Muscle - Skeletal"),
    ("Thyroid", "Thyroid"),
    ("Brain_Cortex", "Brain - Cortex"),
]
CHROMOSOMES = [str(i) for i in range(1, 23)] + ["X"]
ONEKG_EXTRA_COLUMNS = 60
ANNOTATION_EXTRA_COLUMNS = 30
ITEMS_PER_PAGE = 100


@dataclass(frozen=True)
class CohortSize:
    onekg_samples: int
    gtex_subjects: int
    gtex_samples: int
    delta_rows: int = 0  # upsert delta: half replace existing ids, half new


@dataclass
class CohortExpect:
    """Engine-independent expectations for one generated cohort pair."""

    counts: dict[str, dict[str, int]]  # cohort -> resource type -> lines
    group_members: dict[str, int]  # cohort -> Group.member length
    specimen_keys: dict[str, list[str]]  # cohort -> identifier values to spot-check
    delta_replaced: list[str] = field(default_factory=list)  # GTEx aliquot ids
    delta_new: list[str] = field(default_factory=list)
    delta_marker: str = ""  # freezeType every delta row carries


def _ids(rng: random.Random, n: int, prefix: str, width: int, alphabet: str) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        v = prefix + "".join(rng.choice(alphabet) for _ in range(width))
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def _write_tsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def _onekg(rng: random.Random, n: int, out: str) -> tuple[dict, int, list[str]]:
    samples = _ids(rng, n, "", 5, string.digits)
    samples = [("HG" if i % 2 else "NA") + s for i, s in enumerate(samples)]
    extra = [f"extra_{k}" for k in range(ONEKG_EXTRA_COLUMNS)]
    header = [
        "Sample", "Family ID", "Population", "Population Description", "Gender",
        "DNA Source from Coriell", "Main project LC platform",
        "Main project LC Centers", "Total LC Sequence", *extra,
    ]
    rows = []
    for s in samples:
        pop, desc = rng.choice(POPULATIONS)
        rows.append([
            s, f"F{rng.randrange(10**4)}", pop, desc,
            rng.choice(["male", "female", ""]),
            rng.choice(["LCL", "Blood", "", "LCL"]),
            rng.choice(["ILLUMINA", "", "ILLUMINA", "ABI_SOLID"]),
            rng.choice(["BI", "BGI", "WUGSC", ""]),
            f"{rng.uniform(1e9, 9e10):.1f}",
            *(f"v{rng.randrange(1000)}" for _ in extra),
        ])
    _write_tsv(os.path.join(out, "sample_info.tsv"), header, rows)

    # VCF header: ~72% of the samples plus ids that are only in the header
    in_header = [s for s in samples if rng.random() < 0.72]
    header_only = ["HO" + s for s in _ids(rng, max(1, n // 20), "", 6, string.digits)]
    ids = in_header + header_only
    rng.shuffle(ids)
    with open(os.path.join(out, "vcf_header.txt"), "w") as f:
        f.write("##fileformat=VCFv4.1\n##source=perfbench\n##reference=GRCh37\n")
        f.write("\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT", *ids]) + "\n")
        f.write("1\t10583\trs58108140\tG\tA\t100\tPASS\t.\tGT\n")

    # FTP listing: 23 VCFs + 23 tabix indexes + one non-VCF entry = 47
    listing: dict[str, dict] = {}
    for c in CHROMOSOMES:
        base = f"ALL.chr{c}.phase3_shapeit2_mvncall_integrated_v5_extra_anno.20130502.genotypes.vcf.gz"
        for name in (base, base + ".tbi"):
            listing[name] = {
                "size": rng.choice([0, rng.randrange(10**6, 10**10)]),
                "mdtm": f"213 2014{rng.randrange(1, 13):02d}{rng.randrange(1, 29):02d}142107",
            }
    listing["README.phase3_sample_annotation.20141104"] = {"size": 4096, "mdtm": "213 20141104120000"}
    n_docs = sum(1 for k in listing if "vcf" in k.lower())
    with open(os.path.join(out, "ftp_listing.json"), "w") as f:
        json.dump(listing, f)
    counts = {
        "Patient": n, "ResearchSubject": n, "Specimen": n, "ResearchStudy": 1,
        "DocumentReference": n_docs, "Group": 1,
    }
    members = len(set(in_header) & set(samples))
    return counts, members, rng.sample(samples, min(20, n))


def _gtex_sample_rows(rng, aliquots, subjects):
    rows = []
    for a in aliquots:
        tid, tname = rng.choice(TISSUES)
        rows.append({
            "aliquotId": a,
            "subjectId": rng.choice(subjects),
            "dataType": rng.choice(["RNASEQ", "WGS", None, "RNASEQ"]),
            "freezeType": rng.choice(["Fresh Frozen", "OCT", "PAXgene"]),
            "tissueSiteDetailId": tid,
            "tissueSiteDetail": tname,
        })
    return rows


def _write_pages(dirname: str, rows: list[dict]) -> None:
    os.makedirs(dirname)
    pages = max(1, -(-len(rows) // ITEMS_PER_PAGE))
    for p in range(pages):
        chunk = rows[p * ITEMS_PER_PAGE:(p + 1) * ITEMS_PER_PAGE]
        with open(os.path.join(dirname, f"page_{p}.json"), "w") as f:
            json.dump({"data": chunk, "paging_info": {"numberOfPages": pages, "page": p}}, f)


def _write_parquet(path: str, rows: list[dict], cols: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), path)


def _gtex(rng, size: CohortSize, out: str):
    alnum = string.ascii_uppercase + string.digits
    subjects = _ids(rng, size.gtex_subjects, "GTEX-", 5, alnum)
    aliquots = _ids(rng, size.gtex_samples + size.delta_rows, "SM-", 5, alnum)
    delta_new = aliquots[size.gtex_samples:]
    aliquots = aliquots[: size.gtex_samples]
    subject_rows = [
        {
            "subjectId": s,
            "sex": rng.choice(["male", "female"]),
            "ageBracket": rng.choice(AGE_BRACKETS),
            "hardyScale": rng.choice(HARDY + [None, None]),
        }
        for s in subjects
    ]
    sample_rows = _gtex_sample_rows(rng, aliquots, subjects)
    _write_pages(os.path.join(out, "subjects"), subject_rows)
    _write_pages(os.path.join(out, "samples"), sample_rows)

    # annotations: ~96% of the samples, plus ~3% rows matching no sample
    annotated = [r for r in sample_rows if rng.random() < 0.96]
    unmatched = _ids(rng, max(1, len(sample_rows) * 3 // 100), "SM-X", 5, alnum)
    extra = [f"SM{k}" for k in range(ANNOTATION_EXTRA_COLUMNS)]
    ann_rows = [
        [f"{r['subjectId']}-{rng.randrange(10**4):04d}-{r['aliquotId']}",
         *(str(rng.randrange(1000)) for _ in extra)]
        for r in annotated
    ] + [
        [f"GTEX-ZZZZZ-0001-{u}", *(str(rng.randrange(1000)) for _ in extra)]
        for u in unmatched
    ]
    rng.shuffle(ann_rows)
    _write_tsv(os.path.join(out, "annotations.tsv"), ["SAMPID", *extra], ann_rows)

    # fileList: a second dataset row, then V8 with the protected fileset first
    filesets = [{"name": "Protected", "subpath": "protected", "files": [
        {"name": "phs000424.v8.raw.tar", "release": "v8", "type": "file", "size": "9.1T"}]}]
    n_files = 0
    for name, sub, exts in [
        ("Annotations", "annotations", [".txt", ".xlsx"]),
        ("RNA-Seq Data", "rna_seq_data", [".gct.gz", ".txt"]),
        ("Single-Tissue cis-QTL Data", "single_tissue_qtl_data", [".tar", ".tar.gz"]),
    ]:
        files = []
        for k in range(rng.randrange(12, 20)):
            files.append({
                "name": f"GTEx_Analysis_v8_{sub}_{k}{rng.choice(exts)}",
                "release": "v8", "type": "file",
                "size": f"{rng.randrange(1, 999)}{rng.choice('KMG')}",
            })
        n_files += len(files)
        filesets.append({"name": name, "subpath": sub, "files": files})
    with open(os.path.join(out, "filelist.json"), "w") as f:
        f.write(json.dumps({"name": "GTEx Analysis V10", "filesets": filesets[1:2]}) + "\n")
        f.write(json.dumps({"name": "GTEx Analysis V8", "filesets": filesets}) + "\n")

    counts = {
        "Patient": len(subjects), "ResearchSubject": len(subjects),
        "Specimen": len(aliquots), "ResearchStudy": 1,
        "DocumentReference": n_files, "Group": 1,
    }
    members = len({r["aliquotId"] for r in annotated})
    return counts, members, rng.sample(aliquots, min(20, len(aliquots))), aliquots, subjects, delta_new


def generate(seed: int, size: CohortSize, out: str) -> CohortExpect:
    """Write both cohorts' inputs under ``out`` (created fresh)."""
    os.makedirs(out)
    rng = random.Random(seed)
    onekg_dir, gtex_dir = os.path.join(out, "onekg"), os.path.join(out, "gtex")
    os.makedirs(onekg_dir)
    os.makedirs(gtex_dir)
    k_counts, k_members, k_keys = _onekg(rng, size.onekg_samples, onekg_dir)
    g_counts, g_members, g_keys, aliquots, subjects, delta_new = _gtex(rng, size, gtex_dir)
    expect = CohortExpect(
        counts={"onekg": k_counts, "gtex": g_counts},
        group_members={"onekg": k_members, "gtex": g_members},
        specimen_keys={"onekg": k_keys, "gtex": g_keys},
    )
    if size.delta_rows:
        replaced = rng.sample(aliquots, size.delta_rows // 2)
        new = delta_new[: size.delta_rows - len(replaced)]
        expect.delta_replaced, expect.delta_new = replaced, new
        expect.delta_marker = f"DELTA-{seed}"
        rows = _gtex_sample_rows(rng, replaced + new, subjects)
        for r in rows:
            r["freezeType"] = expect.delta_marker
        _write_parquet(os.path.join(gtex_dir, "delta.parquet"), rows, list(rows[0]))
    return expect
