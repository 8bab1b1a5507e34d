"""``catalog_python_kernels``: five catalog entries that run Python kernels.

Each entry runs as ``queries()[name](spark, dir)`` (construct: the driver
builds the plan, including any eager jobs it runs while doing so), then
``collect()`` (execute). The collected rows are hashed order-insensitively
the way the catalog's correctness gate hashes them, and compared with a
golden recorded from the entry's DuckDB ``oracle_sql()``; for a seed with
no golden the oracle itself runs on the generated tables after the timer
stops.
"""

from __future__ import annotations

import hashlib
import os

from catalog_inputs import write_catalog_inputs

from person_linkage_case_study_spark import queries as package_queries

NAME = "catalog_python_kernels"
# entry -> the package layer it exercises
ENTRIES = {
    "dedup_near_exact_pipeline": "dedup",
    "minhash_near_dups": "dedup",
    "semantic_dedup_embeddings": "similarity",
    "mm_media_features": "multimodal",
    "text_analysis_suite": "textops",
}
N_ROWS = {"full": 150, "tiny": 60}  # documents, and embeddings


def layer(entry: str) -> str:
    return f"{ENTRIES[entry]}.{entry}"


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_digest(cols: list[str], rows) -> str:
    """Order-insensitive value hash; the same function as
    ``tools/check_correctness.table_digest``, kept here so that the
    benchmark does not depend on ``tools/``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\x1e".join(lines).encode()).hexdigest()


def setup(probe, work: str, seed: int, scale: str) -> dict:
    data_dir = os.path.join(work, "catalog")
    write_catalog_inputs(data_dir, seed, N_ROWS[scale], N_ROWS[scale])
    return {"dir": data_dir, "queries": package_queries.queries()}


def iteration(probe, st: dict) -> dict:
    results = {}
    for entry in ENTRIES:
        df = probe.call(f"{layer(entry)}.construct", st["queries"][entry], probe.spark, st["dir"])
        rows = probe.call(f"{layer(entry)}.execute", df.collect)
        results[entry] = (df.columns, rows)
    return results


def observe(probe, st: dict, out: dict) -> dict:
    return {
        entry: [len(rows), table_digest(cols, [list(r) for r in rows])]
        for entry, (cols, rows) in out.items()
    }


def signature(out: dict) -> dict:
    return observe(None, None, out)


def _oracle_sql(entry: str) -> str:
    """One entry's oracle. ``oracle_sql()`` would build every entry's, and
    some of those builders read tables other than the benchmark's inputs."""
    sql = package_queries._ORACLES[entry]
    return sql() if callable(sql) else sql


def oracle_digests(data_dir: str) -> dict:
    """[rows, digest] per entry from its DuckDB oracle on the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for entry in ENTRIES:
            res = con.execute(_oracle_sql(entry))
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[entry] = [len(rows), table_digest(cols, rows)]
        return out
    finally:
        con.close()


def expected(st: dict, golden: dict | None) -> dict:
    return golden if golden is not None else oracle_digests(st["dir"])


def check(probe, observed: dict, golden: dict) -> None:
    for entry, got in observed.items():
        probe.check(f"{NAME}.{entry}", got == golden[entry], f"got {got}, expected {golden[entry]}")
