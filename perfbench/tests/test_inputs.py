"""The generated inputs are a pure function of the seed."""

from __future__ import annotations

import duckdb
import pytest

from perfbench import inputs


def test_copy_params_are_seeded_and_distinct():
    assert inputs.copy_params(7, 10) == inputs.copy_params(7, 10)
    assert inputs.copy_params(7, 10) != inputs.copy_params(8, 10)
    rotations, rolls = inputs.copy_params(7, 26)
    assert sorted(rotations) == list(range(26))
    assert len(set(rolls)) == 26
    with pytest.raises(ValueError):
        inputs.copy_params(7, 27)


def test_zipf_lines_are_seeded():
    a = inputs.zipf_lines(3, 200, 500)
    assert a == inputs.zipf_lines(3, 200, 500)
    assert a != inputs.zipf_lines(4, 200, 500)
    assert len(a) == 200
    assert all(4 <= len(line.split()) <= 16 for line in a)


def _table(path: str, t: str) -> list:
    return duckdb.sql(f"SELECT * FROM read_parquet('{path}/{t}.parquet')").fetchall()


def test_catalog_replica_is_seeded(tmp_path):
    a, _ = inputs.catalog(str(tmp_path / "a"), 5, 2)
    b, _ = inputs.catalog(str(tmp_path / "b"), 5, 2)
    c, _ = inputs.catalog(str(tmp_path / "c"), 6, 2)
    for t in inputs.TABLES:
        assert _table(a, t) == _table(b, t), t
    # Another seed changes row order and the per-copy text rotation.
    assert _table(a, "lineitem") != _table(c, "lineitem")
    assert sorted(_table(a, "documents")) != sorted(_table(c, "documents"))


def test_catalog_replica_keeps_keys_and_similarity(tmp_path):
    path, _ = inputs.catalog(str(tmp_path), 11, 3)
    base = inputs.BASE_DIR
    for t in inputs.TABLES:
        n = len(_table(base, t))
        expect = n if t in ("region", "nation") else 3 * n
        assert len(_table(path, t)) == expect, t
    # Every order still joins to its lineitems, inside its own copy.
    orphans = duckdb.sql(f"""
        SELECT count(*) FROM read_parquet('{path}/lineitem.parquet') l
        ANTI JOIN read_parquet('{path}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
    """).fetchone()[0]
    assert orphans == 0
    # Rotation is a bijection: text lengths per copy match the base exactly.
    lens = duckdb.sql(f"""
        SELECT doc_id % {inputs.KOFF} AS d, list_sort(list(length(text))) AS ls
        FROM read_parquet('{path}/documents.parquet') GROUP BY d ORDER BY d
    """).fetchall()
    base_lens = dict(duckdb.sql(
        f"SELECT doc_id, length(text) FROM read_parquet('{base}/documents.parquet')"
    ).fetchall())
    assert all(ls == [base_lens[d]] * 3 for d, ls in lens)


def test_cached_inputs_are_reused(tmp_path):
    first, _ = inputs.corpus(str(tmp_path), 1, 50, 100)
    with open(first) as f:
        text = f.read()
    again, _ = inputs.corpus(str(tmp_path), 1, 50, 100)
    assert again == first
    with open(again) as f:
        assert f.read() == text
