"""The registry query mix: seven registered queries, each checked against
its DuckDB oracle at set-up, which pins a digest of its result; every timed
pass brings each result to the driver and re-checks it against that digest
after the pass."""

from __future__ import annotations

import hashlib
import math
import random
import sys
import time
import traceback

QUERIES = (
    "q3_shipping_priority",
    "q21_waiting_suppliers",
    "e3_sessionization",
    "d4x_minhash_lsh_xxh64",
    "d6_dedup_clusters",
    "c4_fuzzy_dedup_pipeline",
    "v14_hashed_embedding_topk",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# Oracle values agree to rounding: both engines round sums they add in
# different orders, so on an exact tie (a revenue of x.xx5 before rounding)
# they round to neighbouring values. One unit in the last rounded place is
# tolerated, nothing more: q3 rounds to cents, the others to 4 places.
ROUND_PLACES = {"q3_shipping_priority": 2}
REL_TOL = 1e-9


def order_for(seed: int) -> list[str]:
    names = list(QUERIES)
    random.Random(seed).shuffle(names)
    return names


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return None if math.isnan(v) else ("float", v)
    if isinstance(v, int):
        return ("int", v)
    try:
        import pandas as pd

        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return ("str", str(v))


def canonical(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, "" if x is None else x[0], str(x)) for x in r))
    return cols, rows


def _close(a, e, abs_tol: float) -> bool:
    if a == e:
        return True
    if a is None or e is None or a[0] != e[0] or a[0] != "float":
        return False
    return math.isclose(a[1], e[1], rel_tol=REL_TOL, abs_tol=abs_tol)


def compare(name: str, actual, expected) -> list[str]:
    a_cols, a_rows = canonical(actual)
    e_cols, e_rows = canonical(expected)
    if a_cols != e_cols:
        return [f"{name}: columns {a_cols} != oracle {e_cols}"]
    if len(a_rows) != len(e_rows):
        return [f"{name}: {len(a_rows)} rows != oracle {len(e_rows)}"]
    abs_tol = 1.01 * 10.0 ** -ROUND_PLACES.get(name, 4)
    for i, (a, e) in enumerate(zip(a_rows, e_rows)):
        if len(a) != len(e) or not all(_close(x, y, abs_tol) for x, y in zip(a, e)):
            return [f"{name}: row {i} differs: spark={a} oracle={e}"]
    return []


def digest(pdf) -> str:
    """Order-insensitive digest of a result; floats to 9 significant
    digits, so only a change beyond summation order shows."""
    cols, rows = canonical(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(tuple(
            (x[0], f"{x[1]:.9g}") if x is not None and x[0] == "float" else x for x in r
        )).encode())
    return h.hexdigest()


def duckdb_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _raised(name: str) -> str:
    traceback.print_exc()
    return f"{name}: raised {sys.exc_info()[1]!r}"[:300]


def oracle_check(spark, registry, data_dir: str, names) -> tuple[dict[str, str], list[str]]:
    """Run every query once (collecting its rows) and compare with its
    DuckDB oracle; d4x has none and gets a rows-only check. Returns the
    pinned digests and the errors, each prefixed with its query's name."""
    con = duckdb_connection(data_dir)
    pinned, errors = {}, []
    for name in names:
        try:
            actual = registry[name].fn(spark, data_dir).toPandas()
            pinned[name] = digest(actual)
            oracle = registry[name].oracle
            if oracle is None:
                if len(actual.columns) == 0 or len(actual) == 0:
                    errors.append(f"{name}: rows-only check found no rows")
                continue
            errors += compare(name, actual, con.execute(oracle).fetch_df())
        except Exception:  # noqa: BLE001 — a query that raises is a failed operation
            errors.append(_raised(name))
    con.close()
    return pinned, errors


def check_digests(results: dict, pinned: dict[str, str]) -> list[str]:
    """Errors for every query whose result (a pandas frame, or None when
    it raised) does not match the digest pinned at set-up."""
    return [
        f"{name}: result digest differs from the one pinned at set-up"
        for name, pdf in results.items()
        if pdf is not None and digest(pdf) != pinned.get(name)
    ]


def timed_pass(spark, registry, data_dir: str, names, tracer) -> dict:
    """One pass: name -> (build_s, exec_s, result frame), or None for a
    query that raised. build_s is the time inside the query function (it
    includes any eager checkpoint rounds); exec_s is the time to run the
    plan and bring its rows to the driver as pandas, the same way the
    oracle check reads them, so each pass can be re-checked untimed."""
    out = {}
    for name in names:
        with tracer.span(f"queries.{name}"):
            try:
                t0 = time.perf_counter()
                with tracer.span(f"queries.{name}.build"):
                    df = registry[name].fn(spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span(f"queries.{name}.exec"):
                    pdf = df.toPandas()
                out[name] = (t1 - t0, time.perf_counter() - t1, pdf)
            except Exception:  # noqa: BLE001
                _raised(name)
                out[name] = None
    return out
