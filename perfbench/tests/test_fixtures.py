"""The generators are seeded and do the same work for every seed."""

import hashlib
from pathlib import Path

import fixtures as fx


def digest(root: Path) -> dict[str, str]:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*.parquet"))}


def test_tables_are_reproducible_from_the_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = fx.write_tables(str(a), 7, 0.001, 60)
    assert fx.write_tables(str(b), 7, 0.001, 60) == rows
    fx.write_tables(str(c), 8, 0.001, 60)
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    assert rows["documents"] == rows["embeddings"] == 60


def test_lake_layout_and_prediction_do_not_depend_on_the_seed(tmp_path):
    one = fx.build_many_leaves(str(tmp_path / "1"), 1, range(10), 50)
    two = fx.build_many_leaves(str(tmp_path / "2"), 2, range(10), 50)
    assert [(lf.rel, lf.kind, lf.files_after) for lf in one.leaves] == \
        [(lf.rel, lf.kind, lf.files_after) for lf in two.leaves]
    assert one.files_in == two.files_in == 6 * 4 + 4 + 3
    assert sorted({lf.kind for lf in one.leaves}) == [
        "fresh_holdback", "gcp_dates", "many_small", "recompact", "skip_current_month"]


def test_merged_file_range():
    assert fx.merged_files(10) == (1, 1)
    assert fx.merged_files(1_000_000) == (1, 1)
    assert fx.merged_files(2_560_000) == (3, 4)
