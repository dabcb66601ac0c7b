"""Metric rules that do not need Spark: the tail percentile, write and
space amplification from the lake's files, host calibration and RSS."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys

import pyarrow.parquet as pq


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile of
    ``samples`` that still has at least ``beyond`` samples above it.

    With n sorted samples that is the sample at rank n - beyond (1-based),
    i.e. percentile 100 * (n - beyond) / n. With n <= beyond no percentile
    qualifies; the maximum is returned with percentile 100 so the caller
    can see from (percentile, n) that the rule was not met."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return math.nan, math.nan, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def parquet_bytes(root: str) -> int:
    """Bytes of every parquet file under ``root``."""
    total = 0
    for d, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def head_manifest(lake_root: str) -> dict | None:
    d = os.path.join(lake_root, "_commits")
    names = sorted(f for f in os.listdir(d) if f.startswith("commit-") and f.endswith(".json"))
    if not names:
        return None
    with open(os.path.join(d, names[-1])) as fh:
        return json.load(fh)


def manifest_mtimes(lake_root: str) -> list[tuple[int, float]]:
    """(epoch_id, publish time) of every commit, in commit order;
    maintenance commits carry epoch_id None."""
    d = os.path.join(lake_root, "_commits")
    out = []
    for f in sorted(x for x in os.listdir(d) if x.startswith("commit-") and x.endswith(".json")):
        p = os.path.join(d, f)
        with open(p) as fh:
            out.append((json.load(fh)["epoch_id"], os.stat(p).st_mtime))
    return out


def files_per_epoch_commit(lake_root: str) -> float:
    """Mean parquet files written by one epoch commit (maintenance commits
    such as compaction excluded)."""
    d = os.path.join(lake_root, "_commits")
    n = files = 0
    for f in sorted(x for x in os.listdir(d) if x.startswith("commit-") and x.endswith(".json")):
        with open(os.path.join(d, f)) as fh:
            c = json.load(fh)
        if c["epoch_id"] is None:
            continue
        n += 1
        cdir = os.path.join(lake_root, "data", f"c{c['seq']:08d}")
        for _dir, _sub, fs in os.walk(cdir):
            files += sum(1 for x in fs if x.endswith(".parquet"))
    return files / n if n else 0.0


def referenced_parts(manifest: dict) -> list[str]:
    """Relative dirs of every file set the manifest references: each
    bucket's base plus its merge-on-read deltas."""
    out = []
    for ptr in manifest["buckets"].values():
        out.append(ptr["path"])
        out.extend(d["path"] for d in ptr.get("deltas", []))
    return out


def referenced_rows(lake_root: str, manifest: dict) -> int:
    """Rows stored in the files the manifest references (live rows,
    superseded versions in deltas, and tombstones), from parquet footers."""
    n = 0
    for rel in referenced_parts(manifest):
        d = os.path.join(lake_root, rel)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


def space_amp(lake_root: str, live_rows: int) -> float:
    m = head_manifest(lake_root)
    if m is None or live_rows <= 0:
        return math.nan
    return referenced_rows(lake_root, m) / live_rows


_BURN = """
import time
def burn(n):
    t = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return time.perf_counter() - t
print(burn({n}))
"""


def calibrate(slots: int, work: int = 3_000_000) -> float:
    """Wall of a fixed busy loop run in ``slots`` processes at once (the
    slowest process, timed inside it). A record of host speed only: never
    used to normalise or drop a run."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN.format(n=work)], stdout=subprocess.PIPE, text=True)
        for _ in range(slots)
    ]
    return max(float(p.communicate()[0]) for p in procs)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
