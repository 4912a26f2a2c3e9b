"""Independent reference for every benchmark operation, from DuckDB.

The reference reads the same generated parquet the program ingests and
classifies each turn with the ordered first-match CASE that
``rules.dispatch_case_sql`` emits (DuckDB's RE2 ``regexp_matches``), so
it shares no execution code with the Spark pipeline. It is computed
once per run, before Spark starts.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta

import duckdb

from logparse_spark.rules import CompiledRules, dispatch_case_sql

# order-independent row checksum: the first 60 bits of md5 over
# "conv_id|turn_idx|sink_id", summed. ``table_checksum`` evaluates the
# same expression over the committed table, so equal sums mean equal
# (conv, turn, sink) sets up to a 2^-60 collision chance per row.
CHECKSUM_KEY_SQL = "conv_id || '|' || CAST(turn_idx AS VARCHAR) || '|' || sink_id"
CHECKSUM_SQL = f"sum(('0x' || substr(md5({CHECKSUM_KEY_SQL}), 1, 15))::BIGINT)"


@dataclass
class Reference:
    turns: int
    sink_counts: dict[str, int]
    checksum: int
    conv_turns: dict[str, int]
    window_lo: list[datetime]
    window_counts: list[int]
    # per-sink rows of each re-deliverable (cold) conversation, by version
    pool_original: dict[str, dict[str, int]] = field(default_factory=dict)
    pool_revised: dict[str, dict[str, int]] = field(default_factory=dict)

    def sinks_now(self, revised: set[str]) -> dict[str, int]:
        """Expected per-sink totals once the conversations in
        ``revised`` hold their re-delivered version."""
        out = dict(self.sink_counts)
        for c in revised:
            for s, n in self.pool_original[c].items():
                out[s] -= n
            for s, n in self.pool_revised[c].items():
                out[s] = out.get(s, 0) + n
        return {s: n for s, n in out.items() if n}


def _per_conv_sink(con, table: str) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for c, s, n in con.execute(
        f"SELECT conv_id, sink_id, count(*) FROM {table} GROUP BY ALL"
    ).fetchall():
        out.setdefault(c, {})[s] = int(n)
    return out


def compute(src: str, revised_path: str, compiled: CompiledRules,
            window_lo: list[datetime], window: timedelta,
            threads: int = 4) -> Reference:
    case = dispatch_case_sql(compiled, dialect="duckdb", output="sink_id")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(
            "CREATE TABLE ref AS SELECT conv_id, turn_idx, ts, "
            f"{case} AS sink_id FROM read_parquet(?)", [src])
        con.execute(
            f"CREATE TABLE rev AS SELECT conv_id, turn_idx, {case} AS sink_id "
            "FROM read_parquet(?)", [revised_path])
        turns, checksum = con.execute(f"SELECT count(*), {CHECKSUM_SQL} FROM ref").fetchone()
        sink_counts = dict(con.execute(
            "SELECT sink_id, count(*) FROM ref GROUP BY ALL").fetchall())
        conv_turns = dict(con.execute(
            "SELECT conv_id, count(*) FROM ref GROUP BY ALL").fetchall())
        con.execute("CREATE TABLE win (i INTEGER, lo TIMESTAMP)")
        con.executemany("INSERT INTO win VALUES (?, ?)",
                        list(enumerate(window_lo)))
        by_i = dict(con.execute(
            "SELECT w.i, count(r.ts) FROM win w LEFT JOIN ref r "
            "ON r.ts >= w.lo AND r.ts < w.lo + ?::INTERVAL GROUP BY w.i",
            [f"{int(window.total_seconds())} seconds"]).fetchall())
        ref = Reference(
            turns=int(turns), sink_counts={k: int(v) for k, v in sink_counts.items()},
            checksum=int(checksum),
            conv_turns={k: int(v) for k, v in conv_turns.items()},
            window_lo=list(window_lo),
            window_counts=[int(by_i[i]) for i in range(len(window_lo))],
        )
        ref.pool_revised = _per_conv_sink(con, "rev")
        ref.pool_original = {c: v for c, v in _per_conv_sink(con, "ref").items()
                             if c in ref.pool_revised}
        return ref
    finally:
        con.close()


def table_checksum(files: list[str], threads: int = 4) -> tuple[int, int]:
    """Row count and checksum of a committed sink table, read by DuckDB
    from its parquet files (``sink_id`` from the ``sink_id=<s>`` path)."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        n, checksum = con.execute(
            f"SELECT count(*), {CHECKSUM_SQL} FROM read_parquet(?, "
            "hive_partitioning = true, hive_types_autocast = false)", [files]).fetchone()
        return int(n), int(checksum or 0)
    finally:
        con.close()
