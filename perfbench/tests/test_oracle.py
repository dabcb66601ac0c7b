"""The oracle on a 20-event stream whose final state is checked by hand."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracle

T0 = gen.TS0_US

# (lsn, op, epoch, conv, turn, text)
EVENTS = [
    # epoch 0
    (1, "I", 0, "a", 0, "hi a0"),
    (2, "I", 0, "a", 1, "hi a1"),
    (3, "I", 0, "b", 0, "hi b0 mail x@y.io"),
    (4, "U", 0, "a", 0, "a0 v2"),
    (9, "D", 0, "c", 0, None),        # out of order: deletes c/0 before its insert arrives
    (5, "I", 0, "d", 0, "hi d0"),
    (None, "I", 0, "e", 0, "no lsn"),  # invalid: null lsn
    # epoch 1
    (6, "I", 1, "c", 0, "late c0"),   # lower lsn than the delete: loses
    (2, "I", 1, "a", 1, "hi a1"),     # re-delivery of lsn 2: no change
    (7, "U", 1, "b", 0, "b0 v2 at ops-1234"),
    (8, "D", 1, "d", 0, None),
    (10, "U", 1, "a", 1, None),       # invalid: null text on an update
    (11, "I", 1, None, 3, "no key"),  # invalid: null conv_id
    # epoch 2
    (12, "U", 2, "a", 0, "a0 v3 x@y.io X@Y.io"),
    (3, "I", 2, "b", 0, "hi b0 mail x@y.io"),  # stale re-delivery of lsn 3
    (13, "I", 2, "d", 0, "d0 back"),  # re-insert after the delete
    (14, "I", 2, "f", 0, "f0"),
    (15, "D", 2, "f", 0, None),
    (16, "I", 2, "a", 2, "a2"),
    (17, "I", 2, "g", None, "no turn"),  # invalid: null turn_idx
]

# live rows after each epoch, worked out by hand
LIVE_AFTER = {0: 4, 1: 3, 2: 5}  # {a0,a1,b0,d0} / {a0,a1,b0} / {a0,a1,a2,b0,d0}
FINAL = {
    ("a", 0): "a0 v3 x@y.io X@Y.io",
    ("a", 1): "hi a1",
    ("a", 2): "a2",
    ("b", 0): "b0 v2 at ops-1234",
    ("d", 0): "d0 back",
}


@pytest.fixture
def files(tmp_path):
    out = []
    for e in (0, 1, 2):
        rows = [r for r in EVENTS if r[2] == e]
        t = pa.table(
            {
                "lsn": pa.array([r[0] for r in rows], pa.int64()),
                "op": [r[1] for r in rows],
                "epoch_id": pa.array([r[2] for r in rows], pa.int64()),
                "conv_id": [r[3] for r in rows],
                "turn_idx": pa.array([r[4] for r in rows], pa.int32()),
                "role": ["user"] * len(rows),
                "text": [r[5] for r in rows],
                "tool": pa.array([None] * len(rows), pa.string()),
                "ts": pa.array([T0 + (r[0] or 0) for r in rows], pa.timestamp("us", tz="UTC")),
            },
            schema=gen.SCHEMA,
        )
        path = str(tmp_path / f"e{e:05d}-p0.parquet")
        pq.write_table(t, path)
        out.append(path)
    return out


@pytest.fixture
def con(tmp_path):
    c = oracle.connect(str(tmp_path))
    yield c
    c.close()


def test_final_state(con, files):
    oracle.check_stream(con, files)
    rows = con.execute(oracle.final_sql(files)).fetchall()
    assert {(r[0], r[1]): r[3] for r in rows} == FINAL


def test_live_counts_per_prefix(con, files):
    assert oracle.live_counts(con, files) == LIVE_AFTER


def test_invalid_rows(con, files):
    assert oracle.invalid_count(con, files) == 4


def test_enrichment_matches_case_insensitively(con, files):
    reg = {"email": gen.ENRICH_REGISTRY["email"], "ticket": gen.ENRICH_REGISTRY["ticket"]}
    rows = con.execute(
        f"SELECT conv_id, turn_idx, pg_nlp_res_email, pg_nlp_res_ticket FROM ({oracle.final_sql(files, reg)})"
    ).fetchall()
    got = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    assert got[("a", 0)] == (["X@Y.io", "x@y.io"], [])
    assert got[("b", 0)] == ([], ["ops-1234"])


def test_diff_snapshot_detects_a_wrong_row(con, files):
    want = con.execute(oracle.final_sql(files)).arrow()
    snap = pa.table(
        {
            "conv_id": want.column("conv_id"),
            "turn_idx": want.column("turn_idx"),
            "role": want.column("role"),
            "text": want.column("text"),
            "tool": want.column("tool"),
            "ts": pa.array(
                [T0 + 0 for _ in range(want.num_rows)], pa.timestamp("us", tz="UTC")
            ),
        }
    )
    d = oracle.diff_snapshot(con, snap, files)
    assert not d["ok"] and d["got"] == d["want"] == 5


def test_check_stream_rejects_a_conflicting_lsn(con, tmp_path, files):
    bad = str(tmp_path / "e00003-p0.parquet")
    t = pq.read_table(files[0]).slice(0, 1)
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(["other"]))
    pq.write_table(t, bad)
    with pytest.raises(ValueError):
        oracle.check_stream(con, files + [bad])
