"""Replay drivers: each workload prepares a fresh lake per round, replays
its staged epochs through the engine's public calls in a closed loop (one
caller; the next epoch is offered once the previous one has committed),
and checks the result against the DuckDB oracle.

Public engine calls used: ``CdcEngine.apply_epochs`` / ``apply_epoch``,
``ParquetLakeTable.read``, ``extract_entities_sql`` as the enrich step,
and ``split_valid`` for the traced run's standalone enrich measurement.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import gen
import measures
import oracle

SPARK_SCHEMA = (
    "lsn bigint, op string, epoch_id bigint, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp"
)
N_BUCKETS = 16
# trickle_mor: compact as soon as a bucket's delta chain reaches this length;
# every small epoch touches every bucket, so every 3rd epoch compacts
TRICKLE_COMPACT_DELTAS = 3
# fixed warm-up: one whole enrich_storm round; for trickle_mor, small
# epochs on an empty scratch lake that compacts at 2 deltas, so a plain
# write, a delta append and a compaction all run once before the clock
TRICKLE_WARMUP_EPOCHS = 3
TRICKLE_WARMUP_COMPACT_DELTAS = 2
# forced full reads after each enrich_storm round and after each
# trickle_mor commit (fresh plan each): more samples for read_s_p50
ROUND_READS = 3
COMMIT_READS = 2


def force(df) -> int:
    """Execute a plan at full width and return its row count: count plus
    xor of a hash over every column, so no column can be pruned away."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("_h"),
    ).collect()[0]
    return row["n"]


@dataclass
class Tally:
    """Everything one run measures; filled by the replays."""

    epoch_walls: list = field(default_factory=list)
    read_walls: list = field(default_factory=list)
    apply_s: float = 0.0
    events: int = 0
    write_amp: list = field(default_factory=list)
    space_amp: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    results: list = field(default_factory=list)  # EpochResult of timed calls
    read_parts: list = field(default_factory=list)
    dlq_rows: list = field(default_factory=list)
    merge_files: list = field(default_factory=list)
    units: list = field(default_factory=list)  # (traced, wall, epochs) per unit
    load_s: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def raised(self, call: str) -> None:
        """Count the call in flight as failed, keeping its traceback."""
        self.fail(f"{call} raised:\n{traceback.format_exc(limit=8)}")


class Workload:
    name = ""
    enrich = False
    dlq = False

    def __init__(self, spark, tracer, con, staged: str, meta: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.con = con
        self.staged = staged
        self.meta = meta
        self.work = work
        self.epochs = sorted(int(e) for e in meta["epochs"])
        self.enrich_obs = []
        self._n = 0

    # -- helpers -----------------------------------------------------
    def files(self, epochs) -> list[str]:
        return [f for e in epochs for f in gen.epoch_files(self.staged, e)]

    def frame(self, epochs):
        """A freshly built DataFrame over the staged files of ``epochs``."""
        return self.spark.read.schema(SPARK_SCHEMA).parquet(*self.files(epochs))

    def fresh_root(self, tag: str) -> str:
        self._n += 1
        root = os.path.join(self.work, f"{tag}-{self._n:03d}")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def engine(self, root: str, **kw):
        from nifi_nlp_processor_spark.lake import ParquetLakeTable
        from nifi_nlp_processor_spark.runner import CdcEngine

        lake = ParquetLakeTable(self.spark, root, n_buckets=N_BUCKETS)
        if self.enrich:
            kw["enrich"] = self._enrich
        if self.dlq:
            kw["quarantine_dir"] = root + "-dlq"
        return CdcEngine(lake=lake, **kw)

    def _enrich(self, df):
        """The enrich step handed to the engine. In traced units it also
        counts the rows the engine enriches (an observation, no extra job)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nifi_nlp_processor_spark.functions.extractors import extract_entities_sql

        out = extract_entities_sql(df, gen.ENRICH_REGISTRY)
        if self.tracer.on:
            obs = Observation(f"enrich-{len(self.enrich_obs)}")
            self.enrich_obs.append(obs)
            out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        return out

    def staged_bytes(self, epochs) -> int:
        return sum(self.meta["epochs"][str(e)]["bytes"] for e in epochs)

    def events_of(self, epochs) -> int:
        return sum(self.meta["epochs"][str(e)]["events"] for e in epochs)

    def check_snapshot(self, eng, epochs, t: Tally, what: str) -> int:
        """Bit-exact snapshot check; returns the live row count."""
        snap = eng.lake.read().toArrow()
        reg = gen.ENRICH_REGISTRY if self.enrich else None
        d = oracle.diff_snapshot(self.con, snap, self.files(epochs), reg)
        if not d["ok"]:
            t.fail(f"{what}: snapshot differs from oracle {d}")
        if self.dlq:
            got = self.con.execute(
                f"SELECT count(*) FROM read_parquet('{eng.quarantine_dir}/*.parquet')"
            ).fetchone()[0]
            want = oracle.invalid_count(self.con, self.files(epochs))
            t.dlq_rows.append(got)
            if got != want:
                t.fail(f"{what}: DLQ holds {got} rows, oracle says {want} invalid")
        return d["got"]

    def timed_read(self, eng, t: Tally, want: int, parent: int) -> bool:
        """One forced full-width ``lake.read()``, timed and row-counted."""
        t.attempted += 1
        with self.tracer.span("read", parent=parent) as rs:
            try:
                n = force(eng.lake.read())
            except Exception:
                t.raised("read")
                return False
        t.read_walls.append(rs["end"] - rs["start"])
        if n != want:
            t.fail(f"read: {n} live rows, oracle says {want}")
        return True

    def cleanup(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "-dlq", ignore_errors=True)


class EnrichStorm(Workload):
    """enrich_storm: one ``apply_epochs`` call per round over every epoch,
    copy-on-write, with the enrich step and a dead-letter queue."""

    name = "enrich_storm"
    enrich = True
    dlq = True

    ROUND_S = 7.5  # nominal wall of one round (apply, reads, checks) after warm-up

    def warmup(self) -> None:
        root = self.fresh_root("warm")
        eng = self.engine(root)
        eng.apply_epochs(self.frame(self.epochs), epoch_ids=self.epochs)
        for _ in range(ROUND_READS):
            force(eng.lake.read())
        self.cleanup(root)

    def prepare(self):
        return None

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.ROUND_S))

    def run(self, t: Tally, units: int, alternate_trace: bool, prepared=None) -> None:
        for i in range(units):
            self.tracer.on = alternate_trace and i % 2 == 1
            self.round(t)
        self.tracer.on = False

    def round(self, t: Tally) -> None:
        root = self.fresh_root("lake")
        eng = self.engine(root)
        events = self.frame(self.epochs)
        t.attempted += 1
        with self.tracer.span("apply_epochs", epochs=len(self.epochs)) as sp:
            try:
                res = eng.apply_epochs(events, epoch_ids=self.epochs)
            except Exception:  # counted, then the run goes on
                res = None
                t.raised("apply_epochs")
        wall = sp["end"] - sp["start"]
        if res is None:
            self.cleanup(root)
            return
        t.units.append((sp["traced"], wall, len(self.epochs)))
        t.apply_s += wall
        t.events += self.events_of(self.epochs)
        t.results.extend(res)
        prev = sp["start"]
        for epoch, mtime in measures.manifest_mtimes(root):
            if epoch is not None:
                t.epoch_walls.append(mtime - prev)
                prev = mtime
        live = self.check_snapshot(eng, self.epochs, t, "apply_epochs")
        for _ in range(ROUND_READS):
            self.timed_read(eng, t, live, parent=sp["id"])
        t.write_amp.append(measures.parquet_bytes(os.path.join(root, "data")) / self.staged_bytes(self.epochs))
        t.space_amp.append(measures.space_amp(root, live))
        t.merge_files.append(measures.files_per_epoch_commit(root))
        self.cleanup(root)


class TrickleReplay(Workload):
    """trickle_mor: epoch 0 loads the table, then each small epoch is one
    ``apply_epoch`` call (merge-on-read, auto-compaction) followed by full
    forced ``lake.read()`` calls whose row counts are checked."""

    name = "trickle_mor"
    EPOCH_S = 3.0  # nominal wall of one small epoch, its read and its checks

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.small = [e for e in self.epochs if e > 0]
        self.prefix = oracle.live_counts(self.con, self.files(self.epochs))

    def _load(self, tag: str):
        root = self.fresh_root(tag)
        eng = self.engine(root, merge_mode="mor", auto_compact_deltas=TRICKLE_COMPACT_DELTAS)
        t0 = time.time()
        eng.apply_epoch(self.frame([0]), 0)
        return root, eng, time.time() - t0

    def warmup(self) -> None:
        """Small epochs on an empty scratch lake, each followed by a forced
        read (see TRICKLE_WARMUP_EPOCHS)."""
        root = self.fresh_root("warm")
        eng = self.engine(root, merge_mode="mor", auto_compact_deltas=TRICKLE_WARMUP_COMPACT_DELTAS)
        for e in self.small[:TRICKLE_WARMUP_EPOCHS]:
            eng.apply_epoch(self.frame([e]), e)
            force(eng.lake.read())
        self.cleanup(root)

    def prepare(self):
        """The first round's fresh lake and its load epoch, before the clock."""
        return self._load("lake")

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.EPOCH_S))

    def run(self, t: Tally, units: int, alternate_trace: bool, prepared=None) -> None:
        i = 0
        while i < units:
            root, eng, load_s = prepared or self._load("lake")
            prepared = None
            t.load_s.append(load_s)
            done = [0]
            bytes0 = measures.parquet_bytes(os.path.join(root, "data"))
            cycle = {"bytes": 0, "staged": 0}
            for e in self.small[: units - i]:
                self.tracer.on = alternate_trace and i % 2 == 1
                i += 1
                if not self.epoch(eng, root, e, t):
                    i = units
                    break
                done.append(e)
                # write amplification over whole compaction cycles only
                b1 = measures.parquet_bytes(os.path.join(root, "data"))
                cycle["bytes"] += b1 - bytes0
                cycle["staged"] += self.staged_bytes([e])
                bytes0 = b1
                if t.results[-1].compacted is not None:
                    t.write_amp.append(cycle["bytes"] / cycle["staged"])
                    cycle = {"bytes": 0, "staged": 0}
            self.tracer.on = False
            if not t.write_amp and cycle["staged"]:
                t.write_amp.append(cycle["bytes"] / cycle["staged"])
            t.merge_files.append(measures.files_per_epoch_commit(root))
            self.check_snapshot(eng, done, t, f"final state after epoch {done[-1]}")
            self.cleanup(root)

    def epoch(self, eng, root: str, e: int, t: Tally) -> bool:
        batch = self.frame([e])
        t.attempted += 1
        with self.tracer.span("apply_epoch", epoch=e) as sp:
            try:
                r = eng.apply_epoch(batch, e)
            except Exception:
                t.raised(f"apply_epoch({e})")
                return False
        wall = sp["end"] - sp["start"]
        t.epoch_walls.append(wall)
        t.apply_s += wall
        t.events += self.events_of([e])
        t.results.append(r)
        t.units.append((sp["traced"], wall, 1))
        head = measures.head_manifest(root)
        t.read_parts.append(len(measures.referenced_parts(head)))
        for _ in range(COMMIT_READS):
            if not self.timed_read(eng, t, self.prefix[e], parent=sp["id"]):
                return False
        t.space_amp.append(measures.space_amp(root, self.prefix[e]))
        return True


WORKLOADS = {w.name: w for w in (TrickleReplay, EnrichStorm)}
