"""Seeded benchmark inputs.

The committed tables of the engine's sf0.01 test corpus (``data/sf0.01``)
are rewritten per run: the seed fixes each table's row order and so
which rows land in which of its ``N_FILES`` equal-sized parquet files. Query outputs must not depend on either, so every seed gives the
same output hashes. The file sizes do not depend on the seed: unequal
files would make scan stragglers, and with them timings, seed-dependent.
``copies > 1`` replicates ``documents`` with remapped ``doc_id``s,
which is a valid scale lens for per-document operators only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
N_FILES = 4


def replicate_documents(table: pa.Table, copies: int) -> pa.Table:
    """``copies`` copies of ``table``; copy k adds ``k * stride`` to doc_id."""
    ids = table.column("doc_id")
    stride = 10 ** len(str(int(pc.max(ids).as_py())))
    parts = []
    for k in range(copies):
        shifted = pc.add(ids, pa.scalar(k * stride, pa.int64()))
        parts.append(table.set_column(table.schema.get_field_index("doc_id"), "doc_id", shifted))
    return pa.concat_tables(parts)


def split_points(n_rows: int, n_files: int = N_FILES) -> list[int]:
    """Cut points of ``min(n_files, n_rows)`` slices of near-equal size."""
    k = max(1, min(n_files, n_rows))
    return [round(i * n_rows / k) for i in range(k + 1)]


def write_table(table: pa.Table, path: str, rng: np.random.Generator) -> tuple[int, int]:
    """Shuffle ``table`` and write it as a directory of parquet files.

    Returns ``(files, row_groups)`` written.
    """
    os.makedirs(path, exist_ok=True)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = split_points(table.num_rows)
    groups = 0
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), part)
        groups += pq.read_metadata(part).num_row_groups
    return len(bounds) - 1, groups


def make_inputs(
    out_dir: str, seed: int, copies: int = 1, tables: tuple[str, ...] = ("documents",)
) -> dict[str, dict[str, int]]:
    """Write the seeded copy of each of ``tables`` under ``out_dir``.

    Returns ``{table: {"rows": n, "files": f, "row_groups": g}}``.
    """
    rng = np.random.default_rng(seed)
    info = {}
    for name in tables:
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        if name == "documents" and copies > 1:
            table = replicate_documents(table, copies)
        files, groups = write_table(table, os.path.join(out_dir, f"{name}.parquet"), rng)
        info[name] = {"rows": table.num_rows, "files": files, "row_groups": groups}
    return info
