"""Seeded benchmark inputs derived from the vendored sf0.001 fixture.

The fixture in ``perfbench/fixture/`` is a byte copy of the repository's
sf0.001 test tables (TESTDATA.md). A seed permutes which payload sits at
which id; it never touches keys:

* schema, dtypes and row counts are the fixture's;
* id and key columns (``KEY_COLUMNS``) keep their values and order, so ids
  stay contiguous and 0-based and every foreign key still resolves;
* the other columns of a row (its payload) move together to another id,
  by one seeded permutation per table. A payload stays whole, so derived
  columns stay consistent (``n_chars`` is ``len(text)``, ``label`` is the
  class of its ``embedding``) and per-language or per-type subsets keep
  their size, which keeps the work of a run close across seeds.

Seed ``FIXTURE_SEED`` (0) is the identity: its files are the fixture bytes.
Keys are not offset on purpose: ``q_semdedup`` seeds its centroids from
``vec_id < k`` and the document link graph hashes its targets into
``0..n-1``, so offset ids crash the first and collapse the second.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = Path(__file__).resolve().parent / "fixture"
FIXTURE_SEED = 0

KEY_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
TABLES = tuple(KEY_COLUMNS)


def payload_columns(table: str, columns: list[str]) -> list[str]:
    return [c for c in columns if c not in KEY_COLUMNS[table]]


def permuted(table: str, tbl: pa.Table, seed: int) -> pa.Table:
    """``tbl`` with its payloads moved across rows by ``seed``."""
    rng = np.random.default_rng([seed, TABLES.index(table)])
    perm = pa.array(rng.permutation(tbl.num_rows))
    payload = set(payload_columns(table, tbl.column_names))
    return pa.Table.from_arrays(
        [col.take(perm) if name in payload else col
         for name, col in zip(tbl.column_names, tbl.columns)],
        schema=tbl.schema,
    )


def generate(seed: int, out_dir: Path) -> dict[str, int]:
    """Write the seed's tables to ``out_dir``; returns rows per table."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    if out_dir.exists():
        shutil.rmtree(out_dir)
    out_dir.mkdir(parents=True)
    rows: dict[str, int] = {}
    for table in TABLES:
        src = FIXTURE_DIR / f"{table}.parquet"
        dst = out_dir / f"{table}.parquet"
        if seed == FIXTURE_SEED:
            shutil.copyfile(src, dst)
            rows[table] = pq.ParquetFile(dst).metadata.num_rows
            continue
        tbl = permuted(table, pq.read_table(src), seed)
        pq.write_table(tbl, dst)
        rows[table] = tbl.num_rows
    return rows
