"""Seeded input generation: deterministic per seed, content-preserving
across seeds."""

import filecmp
import os

import pyarrow.parquet as pq

from perfbench import inputs


def _read(path):
    return pq.read_table(path).sort_by([(c, "ascending") for c in ("doc_id",)])


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    ia = inputs.make_inputs(str(a), 7, copies=2)
    ib = inputs.make_inputs(str(b), 7, copies=2)
    assert ia == ib
    names = sorted(os.listdir(a / "documents.parquet"))
    assert names == sorted(os.listdir(b / "documents.parquet"))
    _, mismatch, errors = filecmp.cmpfiles(
        a / "documents.parquet", b / "documents.parquet", names, shallow=False
    )
    assert not mismatch and not errors


def test_other_seed_same_rows_other_layout(tmp_path):
    inputs.make_inputs(str(tmp_path / "a"), 1)
    inputs.make_inputs(str(tmp_path / "b"), 2)
    ta = pq.read_table(tmp_path / "a" / "documents.parquet")
    tb = pq.read_table(tmp_path / "b" / "documents.parquet")
    assert ta.column("doc_id").to_pylist() != tb.column("doc_id").to_pylist()
    assert _read(tmp_path / "a" / "documents.parquet").equals(_read(tmp_path / "b" / "documents.parquet"))
    base = pq.read_table(os.path.join(inputs.BASE_DIR, "documents.parquet"))
    assert _read(tmp_path / "a" / "documents.parquet").equals(base.sort_by("doc_id"))


def test_split_into_equal_files(tmp_path):
    meta = inputs.make_inputs(str(tmp_path), 3)["documents"]
    files = sorted((tmp_path / "documents.parquet").iterdir())
    assert len(files) == meta["files"] == meta["row_groups"] == inputs.N_FILES
    sizes = [pq.read_metadata(f).num_rows for f in files]
    assert sum(sizes) == meta["rows"] and max(sizes) - min(sizes) <= 1


def test_split_points_of_tiny_tables():
    assert inputs.split_points(0) == [0, 0]
    assert inputs.split_points(2) == [0, 1, 2]
    assert inputs.split_points(10) == [0, 2, 5, 8, 10]


def test_copies_remap_doc_ids(tmp_path):
    info = inputs.make_inputs(str(tmp_path), 5, copies=3)
    t = pq.read_table(tmp_path / "documents.parquet")
    base = pq.read_table(os.path.join(inputs.BASE_DIR, "documents.parquet"))
    assert info["documents"]["rows"] == t.num_rows == 3 * base.num_rows
    ids = t.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    assert sorted(t.column("text").to_pylist()) == sorted(base.column("text").to_pylist() * 3)


def test_every_table_is_shuffled_and_kept(tmp_path):
    info = inputs.make_inputs(str(tmp_path), 4, tables=("documents", "embeddings"))
    assert sorted(info) == ["documents", "embeddings"]
    got = pq.read_table(tmp_path / "embeddings.parquet").sort_by("vec_id")
    base = pq.read_table(os.path.join(inputs.BASE_DIR, "embeddings.parquet")).sort_by("vec_id")
    assert got.equals(base)
    assert info["embeddings"]["rows"] == base.num_rows
    assert info["embeddings"]["files"] == inputs.N_FILES
