"""Seeded change-stream generator for the benchmark workloads.

Stands alone: it imports numpy and pyarrow only, never the engine package,
so a change to the engine's own fixtures cannot change what is measured.
The same (workload, seed, GEN_VERSION) always yields byte-identical staged
files; ``stage`` caches them under that key.

Schema (the transcript schema plus the CDC envelope)::

    lsn bigint, op string, epoch_id bigint, conv_id string, turn_idx int,
    role string, text string, tool string, ts timestamp (UTC)

Every distinct event has a distinct LSN; two events share an LSN only when
one is an exact re-delivery of the other, so "max LSN wins" never has to
break a tie between different rows.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("epoch_id", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "calculator", "code_exec", "retrieval", "browser"])
VOCAB = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu".split()
)
TS0_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z

# Entity types the enrich workload extracts. Patterns are written so that
# Java's regex engine (Spark) and RE2 (DuckDB) agree on them: ASCII only,
# no anchors, no lookaround, no backreferences.
ENRICH_REGISTRY = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "url": r"https?://[a-z0-9.-]+(?:/[a-z0-9._-]+)*",
    "phone": r"\+1-555-\d{3}-\d{4}",
    "ticket": r"\b[a-z]{2,5}-\d{3,6}\b",
    "ipv4": r"\b\d{1,3}(?:\.\d{1,3}){3}\b",
    "handle": r"\B@[a-z][a-z0-9_]{2,15}",
}

# Workload shapes. Sizes are chosen so that one replay round takes a few
# seconds at local[2]; see README.md for the reasoning behind each shape.
SHAPES = {
    "trickle_mor": dict(n_conv=1500, base=6, spread=9, n_small=24, per_epoch=300),
    "enrich_storm": dict(
        n_conv=300, base=6, spread=9, n_epochs=2, files_per_epoch=2,
        storm_keys=6, storm_rewrites=120, bad_frac=0.05,
    ),
}


def _turns(rng: np.random.Generator, n_conv: int, base: int, spread: int, mega_frac: float = 0.2):
    """(conv, turn) arrays. Conversation 0 is a mega-conversation holding
    ``mega_frac`` of all turns (the skewed bucket)."""
    sizes = base + rng.integers(0, spread, n_conv)
    others = int(sizes[1:].sum())
    sizes[0] = max(base, int(others * mega_frac / (1.0 - mega_frac)))
    conv = np.repeat(np.arange(n_conv), sizes)
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn = np.arange(conv.size) - starts
    return conv, turn, sizes


def _prose(rng: np.random.Generator, n: int, rich: bool) -> list[str]:
    """Seeded turn text with embedded entities; ``rich`` raises the entity
    rate and the number of entity types per turn."""
    words = VOCAB[rng.integers(0, VOCAB.size, (n, 6))]
    rate = 0.6 if rich else 0.25
    k = rng.integers(0, 100_000, (n, 8))
    has = rng.random((n, 6)) < rate
    out = []
    for i in range(n):
        parts = [" ".join(words[i])]
        a = k[i]
        if has[i, 0]:
            parts.append(f"contact user{a[0] % 997}@Example{a[1] % 13}.com")
        if has[i, 1]:
            parts.append(f"see https://site{a[2] % 89}.example.org/page/{a[3] % 977}")
        if has[i, 2]:
            parts.append(f"call +1-555-{a[4] % 1000:03d}-{a[5] % 10000:04d}")
        if rich and has[i, 3]:
            parts.append(f"re OPS-{100 + a[6] % 9000} and cc @agent_{a[7] % 97}")
        if rich and has[i, 4]:
            parts.append(f"host 10.{a[0] % 256}.{a[2] % 256}.{a[4] % 256}")
        if rich and has[i, 5]:
            parts.append(f"mail ops{a[3] % 31}@corp{a[5] % 7}.io now")
        out.append(" ".join(parts))
    return out


class _Events:
    """Column-wise event accumulator."""

    def __init__(self):
        self.cols = {k: [] for k in SCHEMA.names}

    def add(self, lsn, op, epoch, conv, turn, role, text, tool, ts):
        for k, v in zip(SCHEMA.names, (lsn, op, epoch, conv, turn, role, text, tool, ts)):
            self.cols[k].extend(v)

    def turns(self, rng, lsn, op, epoch, conv, turn, rich, ts_off=0):
        """Events for (conv, turn) pairs with fresh text (null text on D)."""
        n = len(lsn)
        role_i = (np.asarray(conv) * 7 + np.asarray(turn)) % 4
        role = ROLES[role_i].tolist()
        tool = [TOOLS[(c + t) % 5] if r == 3 else None for c, t, r in zip(conv, turn, role_i)]
        if isinstance(op, str):
            op = [op] * n
        text = _prose(rng, n, rich)
        text = [None if o == "D" else x for o, x in zip(op, text)]
        ts = (TS0_US + (np.asarray(lsn) % 86_400 + ts_off) * 1_000_000).tolist()
        self.add(
            list(map(int, lsn)), list(op), list(map(int, epoch)),
            [f"conv-{int(c):06d}" for c in conv], list(map(int, turn)),
            role, text, tool, ts,
        )

    def table(self) -> pa.Table:
        return pa.table(self.cols, schema=SCHEMA)


def _f2_stream(rng, ev: _Events, conv, turn, n_epochs: int, rich: bool) -> None:
    """The F2 shape: inserts, 25% first updates, 8% second updates, 10%
    deletes, each at its own LSN block, scattered over epochs out of LSN
    order, plus 5% exact re-deliveries of inserts one epoch later."""
    total = conv.size
    uid = np.arange(total)
    blocks = [
        ("I", np.ones(total, bool)),
        ("U", rng.random(total) < 0.25),
        ("U", rng.random(total) < 0.08),
        ("D", rng.random(total) < 0.10),
    ]
    for blk, (op, mask) in enumerate(blocks):
        lsn = blk * total + uid[mask]
        epoch = rng.integers(0, n_epochs, mask.sum())
        ev.turns(rng, lsn, op, epoch, conv[mask], turn[mask], rich, ts_off=blk * 86_400)
    # re-delivery: exact copies of 5% of the inserts, one epoch later
    n_ins = total
    dup = np.nonzero(rng.random(n_ins) < 0.05)[0]
    for k in SCHEMA.names:
        col = ev.cols[k]
        ev.cols[k] = col + [col[i] for i in dup]
    ep = ev.cols["epoch_id"]
    for j in range(len(ep) - dup.size, len(ep)):
        ep[j] = min(ep[j] + 1, n_epochs - 1)


def trickle_mor(seed: int) -> pa.Table:
    """Epoch 0 inserts every base turn; epochs 1..n_small each carry
    ``per_epoch`` events: updates (a fifth on the mega-conversation),
    deletes, new turns, and exact re-deliveries of earlier events. One
    event in ten is delivered one epoch late (out of LSN order)."""
    s = SHAPES["trickle_mor"]
    rng = np.random.default_rng([seed, 2])
    conv, turn, sizes = _turns(rng, s["n_conv"], s["base"], s["spread"])
    ev = _Events()
    ev.turns(rng, np.arange(conv.size), "I", np.zeros(conv.size), conv, turn, rich=False)
    next_turn = sizes.copy()
    lsn = conv.size
    n = s["n_small"] * s["per_epoch"]
    kind = rng.choice(4, n, p=[0.60, 0.10, 0.25, 0.05])
    first_small = len(ev.cols["lsn"])
    for i in range(n):
        epoch = 1 + i // s["per_epoch"]
        if rng.random() < 0.1 and epoch < s["n_small"]:
            epoch += 1
        k = kind[i]
        if k == 3 and len(ev.cols["lsn"]) > first_small:
            # exact re-delivery of an earlier small-epoch event
            j = int(rng.integers(first_small, len(ev.cols["lsn"])))
            for name in SCHEMA.names:
                ev.cols[name].append(ev.cols[name][j])
            ev.cols["epoch_id"][-1] = max(epoch, ev.cols["epoch_id"][j])
            continue
        if k == 2:
            c = int(rng.integers(0, s["n_conv"]))
            t = int(next_turn[c])
            next_turn[c] += 1
            op = "I"
        else:
            c = 0 if rng.random() < 0.2 else int(rng.integers(0, s["n_conv"]))
            t = int(rng.integers(0, next_turn[c]))
            op = "D" if k == 1 else "U"
        ev.turns(rng, [lsn], op, [epoch], [c], [t], rich=False)
        lsn += 1
    return ev.table()


def enrich_storm(seed: int) -> pa.Table:
    """F2 stream over entity-rich text, plus an update storm (a few
    in-progress assistant turns per epoch re-emitted on every streamed
    chunk with rising LSNs) and ~5% malformed events (null key, null lsn,
    or null text on a non-delete) that must go to the dead-letter queue."""
    s = SHAPES["enrich_storm"]
    rng = np.random.default_rng([seed, 3])
    conv, turn, sizes = _turns(rng, s["n_conv"], s["base"], s["spread"])
    ev = _Events()
    _f2_stream(rng, ev, conv, turn, s["n_epochs"], rich=True)
    lsn = 4 * conv.size
    for e in range(s["n_epochs"]):
        cs = rng.choice(s["n_conv"], s["storm_keys"], replace=False)
        for c in cs:
            t = int(sizes[c])
            sizes[c] += 1
            chunks = _prose(rng, s["storm_rewrites"], rich=True)
            text = ""
            for j in range(s["storm_rewrites"]):
                text = (text + " " + chunks[j].split(" ", 3)[-1]).strip()[-1500:]
                ev.add([lsn], ["U" if j else "I"], [e], [f"conv-{int(c):06d}"], [t],
                       ["assistant"], [text], [None], [TS0_US + lsn * 1000])
                lsn += 1
    n_good = len(ev.cols["lsn"])
    bad = np.nonzero(rng.random(n_good) < s["bad_frac"])[0]
    for i in bad:
        row = {k: ev.cols[k][i] for k in SCHEMA.names}
        flaw = int(rng.integers(0, 4))
        row["lsn"] = lsn
        lsn += 1
        if flaw == 0:
            row["conv_id"] = None
        elif flaw == 1:
            row["turn_idx"] = None
        elif flaw == 2:
            row["lsn"] = None
        else:
            row["op"], row["text"] = "U", None
        for k in SCHEMA.names:
            ev.cols[k].append(row[k])
    return ev.table()


GENERATORS = {"trickle_mor": trickle_mor, "enrich_storm": enrich_storm}


def stage(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the staged input of (workload, seed).

    Layout: ``<dir>/e<epoch>-p<k>.parquet``, a few files per epoch, each
    file holding one epoch's rows sorted by LSN. Returns the directory and
    its ``meta.json`` (epochs, event and byte counts per epoch)."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-g{GEN_VERSION}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return d, json.load(fh)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = GENERATORS[workload](seed)
    epochs = np.asarray(table.column("epoch_id").to_numpy())
    nfiles = SHAPES[workload].get("files_per_epoch", 1)
    meta = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION, "epochs": {}}
    for e in sorted(set(epochs.tolist())):
        part = table.filter(pa.array(epochs == e)).sort_by("lsn")
        nbytes = 0
        for k in range(nfiles):
            lo = part.num_rows * k // nfiles
            hi = part.num_rows * (k + 1) // nfiles
            path = os.path.join(tmp, f"e{e:05d}-p{k}.parquet")
            pq.write_table(part.slice(lo, hi - lo), path, compression="snappy")
            nbytes += os.path.getsize(path)
        meta["epochs"][str(e)] = {"events": part.num_rows, "bytes": nbytes}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, meta


def epoch_files(staged: str, epoch: int) -> list[str]:
    prefix = f"e{epoch:05d}-"
    return sorted(
        os.path.join(staged, f) for f in os.listdir(staged) if f.startswith(prefix)
    )
