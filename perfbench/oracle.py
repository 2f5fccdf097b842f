"""Independent correctness checks: DuckDB folds of the WAL.

The engine's final state is compared with a DuckDB last-writer-wins fold of
the same WAL, the view with a full GROUP BY recompute of that state, and
the apply's row counts with the conservation identity
``rows_in = rows_applied + rows_folded``.
"""

from __future__ import annotations

import duckdb

PAYLOAD = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
VIEW_GROUP = "turn_idx"

# Same total order the engine documents for LWW ties (oracle.final_state).
_LWW = """
SELECT conv_id, turn_idx, role, text, tool, ts FROM (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx
    ORDER BY lsn DESC, ts DESC, op DESC, coalesce(text, '') DESC,
             coalesce(tool, '') DESC, coalesce(role, '') DESC) AS rn
  FROM wal)
WHERE rn = 1 AND op <> 'D'
"""


class Oracle:
    def __init__(self, wal_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"""CREATE TABLE wal AS
            SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts,
                   op, lsn, epoch
            FROM read_parquet('{wal_dir}/**/*.parquet',
                              hive_partitioning = false, union_by_name = true)"""
        )
        self.con.execute(f"CREATE TABLE expected AS {_LWW}")
        rows = self.con.execute(
            """SELECT epoch, count(*), count(DISTINCT (conv_id, turn_idx))
            FROM wal GROUP BY epoch ORDER BY epoch"""
        ).fetchall()
        self.rows_in = {e: n for e, n, _ in rows}
        self.keys_in = {e: k for e, _, k in rows}
        self.events = sum(self.rows_in.values())

    def check_state(self, state_arrow) -> str | None:
        """None when the engine's state (an Arrow table) equals the fold,
        else a one-line description of the difference."""
        self.con.register("state_arrow", state_arrow)
        try:
            self.con.execute(
                """CREATE OR REPLACE TABLE state AS
                SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts
                FROM state_arrow"""
            )
        finally:
            self.con.unregister("state_arrow")
        return self._diff("state", "expected")

    def check_view(self, view_arrow) -> str | None:
        """The maintained view against a GROUP BY over the expected state."""
        self.con.register("view_arrow", view_arrow)
        try:
            self.con.execute(
                f"""CREATE OR REPLACE TABLE view_got AS
                SELECT {VIEW_GROUP}, n_rows::BIGINT AS n_rows,
                       text_len::BIGINT AS text_len FROM view_arrow"""
            )
        finally:
            self.con.unregister("view_arrow")
        self.con.execute(
            f"""CREATE OR REPLACE TABLE view_want AS
            SELECT {VIEW_GROUP}, count(*)::BIGINT AS n_rows,
                   sum(length(text))::BIGINT AS text_len
            FROM expected GROUP BY {VIEW_GROUP}"""
        )
        return self._diff("view_got", "view_want")

    def check_conservation(self, applied: dict[int, int]) -> str | None:
        """``applied``: epoch -> rows the apply wrote. Per epoch,
        rows_folded = rows_in - rows_applied must be >= 0 and equal the
        within-batch duplicates of a key (rows_in - distinct keys)."""
        if set(applied) != set(self.rows_in):
            return f"epochs applied {sorted(applied)} != WAL epochs {sorted(self.rows_in)}"
        for e, n_in in self.rows_in.items():
            folded = n_in - applied[e]
            if folded < 0 or folded != n_in - self.keys_in[e]:
                return (
                    f"epoch {e}: rows_in={n_in} rows_applied={applied[e]} "
                    f"rows_folded={folded} want {n_in - self.keys_in[e]}"
                )
        return None

    def _diff(self, got: str, want: str) -> str | None:
        q = "SELECT count(*) FROM (SELECT * FROM {} EXCEPT ALL SELECT * FROM {})"
        extra = self.con.execute(q.format(got, want)).fetchone()[0]
        missing = self.con.execute(q.format(want, got)).fetchone()[0]
        if extra or missing:
            n = self.con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
            return f"{got}: {extra} unexpected and {missing} missing rows of {n}"
        return None

    def close(self) -> None:
        self.con.close()
