"""Independent LWW oracle over the staged change files, in DuckDB.

It shares no code with the engine. The rules it applies:

* validity (the dead-letter rule): an event is valid when its lsn, conv_id
  and turn_idx are set, its op is I/U/D, and it has text unless it is a
  delete. Invalid events go to the DLQ and never touch state;
* last writer wins: per (conv_id, turn_idx) the valid event with the
  strictly greatest lsn is the state. Equal LSNs are allowed only between
  exact copies (a re-delivery), which ``check_stream`` asserts, so the
  winner is unique;
* tombstones: a winning delete removes the key, and keeps removing it
  against any lower-LSN event delivered later;
* enrichment: for each registry type, the sorted distinct case-insensitive
  regex matches in ``text`` (the rule of ``extract_entities_sql``).
"""

from __future__ import annotations

import duckdb

VALID = (
    "lsn IS NOT NULL AND conv_id IS NOT NULL AND turn_idx IS NOT NULL "
    "AND op IN ('I', 'U', 'D') AND (op = 'D' OR text IS NOT NULL)"
)


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _src(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def check_stream(con, files: list[str]) -> None:
    """Raise if two different valid events share (key, lsn): the LWW rule
    would then need a tie-break and the oracle would not be unique."""
    n = con.execute(
        f"""SELECT count(*) FROM (
              SELECT conv_id, turn_idx, lsn
              FROM (SELECT DISTINCT * EXCLUDE (epoch_id) FROM {_src(files)} WHERE {VALID})
              GROUP BY ALL HAVING count(*) > 1)"""
    ).fetchone()[0]
    if n:
        raise ValueError(f"{n} (key, lsn) pairs carry different events")


def _enrich_cols(registry: dict[str, str] | None) -> str:
    cols = []
    for k, pat in sorted((registry or {}).items()):
        cols.append(
            f"list_sort(list_distinct(regexp_extract_all(text, '{pat}', 0, 'i')))"
            f" AS pg_nlp_res_{k.lower()}"
        )
    return "".join(", " + c for c in cols)


def final_sql(files: list[str], registry: dict[str, str] | None = None) -> str:
    """Live rows after applying every event in ``files``: key, payload,
    ``ts`` as epoch microseconds, and one column per registry type."""
    return f"""
        WITH v AS (SELECT * FROM {_src(files)} WHERE {VALID}),
        w AS (SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
              FROM v)
        SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts
               {_enrich_cols(registry)}
        FROM w WHERE rn = 1 AND op <> 'D'"""


def live_counts(con, files: list[str]) -> dict[int, int]:
    """{epoch: live rows after epochs 0..epoch applied in epoch order}.

    Per key, the state after each epoch that touches it is the running
    max-LSN winner over the epochs so far; the live count changes by
    (live now) - (live before) at those epochs only."""
    rows = con.execute(
        f"""
        WITH v AS (SELECT * FROM {_src(files)} WHERE {VALID}),
        pe AS (SELECT conv_id, turn_idx, epoch_id, max(lsn) AS lsn,
                      arg_max(op, lsn) AS op
               FROM v GROUP BY ALL),
        run AS (SELECT *, arg_max(op, lsn) OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY epoch_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS win_op
                FROM pe),
        d AS (SELECT epoch_id,
                (win_op <> 'D')::INT - coalesce(lag((win_op <> 'D')::INT) OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY epoch_id), 0) AS delta
              FROM run),
        per AS (SELECT epoch_id, sum(delta) AS delta FROM d GROUP BY epoch_id)
        SELECT epoch_id, sum(delta) OVER (ORDER BY epoch_id) FROM per ORDER BY epoch_id"""
    ).fetchall()
    return {int(e): int(n) for e, n in rows}


def invalid_count(con, files: list[str]) -> int:
    return con.execute(f"SELECT count(*) FROM {_src(files)} WHERE NOT ({VALID}) OR ({VALID}) IS NULL").fetchone()[0]


def epoch_winners(con, files: list[str]) -> int:
    """Valid events that win LWW inside their own epoch: one per (epoch,
    key). Enriching only these would leave the final state unchanged."""
    return con.execute(
        f"""SELECT count(DISTINCT (epoch_id, conv_id, turn_idx))
            FROM {_src(files)} WHERE {VALID}"""
    ).fetchone()[0]


def diff_snapshot(con, snapshot, files: list[str], registry: dict[str, str] | None = None) -> dict:
    """Bit-exact comparison of an engine snapshot (a pyarrow table from
    ``lake.read()``) with the oracle. Returns row counts and the number of
    rows present on one side only (multiset difference, both ways)."""
    con.register("snap", snapshot)
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    cols += [f"pg_nlp_res_{k.lower()}" for k in sorted(registry or {})]
    sel = ", ".join(cols[:5]) + ", epoch_us(ts) AS ts" + "".join(", " + c for c in cols[5:])
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT {sel} FROM snap")
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {final_sql(files, registry)}")
    out = {
        "got": con.execute("SELECT count(*) FROM got").fetchone()[0],
        "want": con.execute("SELECT count(*) FROM want").fetchone()[0],
        "missing": con.execute(
            "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
        ).fetchone()[0],
        "extra": con.execute(
            "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"
        ).fetchone()[0],
    }
    con.unregister("snap")
    out["ok"] = out["missing"] == 0 and out["extra"] == 0 and out["got"] == out["want"]
    return out
