import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import measures


def test_tail_is_the_rank_with_ten_samples_above():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order must not matter
    value, pct, n = measures.tail(list(reversed(xs)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    value, pct, n = measures.tail(xs[:11])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)
    value, pct, n = measures.tail(xs[:25])
    assert (value, pct) == (15.0, 60.0)


def test_tail_without_enough_samples_reports_the_maximum():
    assert measures.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert measures.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)


def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"k": pa.array(list(range(rows)), pa.int64())}), path)


def _commit(root, seq, epoch, buckets):
    os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
    with open(os.path.join(root, "_commits", f"commit-{seq:08d}.json"), "w") as fh:
        json.dump({"seq": seq, "epoch_id": epoch, "buckets": buckets}, fh)


@pytest.fixture
def lake(tmp_path):
    """Two epoch commits and one compaction-like maintenance commit.

    c1 writes bucket 0 (2 files: 3 + 2 rows) and bucket 1 (1 file: 4 rows);
    c2 appends a 2-row delta to bucket 0; the head references base 0 (5
    rows), its delta (2 rows) and base 1 (4 rows) = 11 rows."""
    root = str(tmp_path / "lake")
    _write(f"{root}/data/c00000001/_b=0/a.parquet", 3)
    _write(f"{root}/data/c00000001/_b=0/b.parquet", 2)
    _write(f"{root}/data/c00000001/_b=1/a.parquet", 4)
    _commit(root, 1, 0, {
        "0": {"path": "data/c00000001/_b=0"},
        "1": {"path": "data/c00000001/_b=1"},
    })
    _write(f"{root}/data/c00000002/_b=0/a.parquet", 2)
    head = {
        "0": {"path": "data/c00000001/_b=0", "deltas": [{"path": "data/c00000002/_b=0"}]},
        "1": {"path": "data/c00000001/_b=1"},
    }
    _commit(root, 2, 1, head)
    _commit(root, 3, None, head)  # maintenance: no epoch, no new files
    return root


def test_space_amp_counts_every_referenced_row(lake):
    m = measures.head_manifest(lake)
    assert m["seq"] == 3
    assert sorted(measures.referenced_parts(m)) == [
        "data/c00000001/_b=0", "data/c00000001/_b=1", "data/c00000002/_b=0",
    ]
    assert measures.referenced_rows(lake, m) == 11
    assert measures.space_amp(lake, 8) == pytest.approx(11 / 8)


def test_write_amp_numerator_and_files_per_epoch(lake):
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(os.path.join(lake, "data"))
        for f in fs
    ]
    assert measures.parquet_bytes(os.path.join(lake, "data")) == sum(sizes)
    # epoch commits 1 and 2 wrote 3 and 1 files; the maintenance commit is excluded
    assert measures.files_per_epoch_commit(lake) == 2.0
    assert [e for e, _t in measures.manifest_mtimes(lake)] == [0, 1, None]
