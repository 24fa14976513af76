"""Disk accounting per commit, and the matched-steps window the traced
run's overhead figure compares."""

import io
import os

from perfbench import layers
from perfbench.harness import Op, Run


def _write(path, data: bytes):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def test_bytes_written_counts_new_and_rewritten_files_only(tmp_path):
    root = str(tmp_path)
    _write(os.path.join(root, "claims", "data", "a.parquet"), b"x" * 100)
    _write(os.path.join(root, "claims", "metadata", "v1.json"), b"m" * 10)
    _write(os.path.join(root, "claims", "metadata", "hint"), b"1")
    before = layers.disk_files(root)
    # a compaction: one new data file, the old one removed, a new
    # metadata version and the hint rewritten in place
    os.remove(os.path.join(root, "claims", "data", "a.parquet"))
    _write(os.path.join(root, "claims", "data", "b.parquet"), b"y" * 60)
    _write(os.path.join(root, "claims", "metadata", "v2.json"), b"m" * 12)
    _write(os.path.join(root, "claims", "metadata", "hint"), b"22")
    after = layers.disk_files(root)
    assert layers.bytes_written(before, after, root) == {"data": 60, "metadata": 14}
    assert layers.disk_usage(root) == {"data": 60, "metadata": 24}


def test_measure_repeats_a_fixed_number_of_steps():
    run = Run(1, False, "/nonexistent", io.StringIO())

    def steps():
        i = 0
        while True:
            i += 1
            yield lambda i=i: run.ops.append(Op(f"{i}:k", "k", "read", 1.0, True))

    first = run.measure(steps(), seconds=0.0, min_ops=5)
    again = run.measure(steps(), n_steps=first["steps"])
    assert first["steps"] == again["steps"] == 5
    assert [o.id for o in again["ops"]] == [o.id for o in first["ops"]]
