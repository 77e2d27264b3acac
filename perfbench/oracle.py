"""DuckDB oracles and result comparison for the benchmark's checks.

Every check runs outside the timed region.  A result that differs from
its oracle counts as a failed operation in the run's ``failed`` count.
"""

from __future__ import annotations

import sys

import duckdb

# Latest-wins over a change feed, the same ranking as
# ``__spark_entry__.FINAL_STATE_SQL``: per key, the event with the highest
# (op_ts, batch_seq) decides; a delete leaves no row.
LATEST_WINS_SQL = """
SELECT {cols} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, batch_seq DESC) AS _rn
  FROM {feed})
WHERE _rn = 1 AND op <> 'D'
"""

DELETED_KEYS_SQL = """
SELECT conv_id, turn_idx FROM (
  SELECT conv_id, turn_idx, op, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, batch_seq DESC) AS _rn
  FROM {feed})
WHERE _rn = 1 AND op = 'D'
ORDER BY 1, 2
"""


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def diff_counts(con, got_sql: str, want_sql: str) -> tuple[int, int]:
    """(rows of ``want`` missing from ``got``, rows of ``got`` not in
    ``want``), as multisets: EXCEPT ALL both ways."""
    missing = con.sql(f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))").fetchone()[0]
    return missing, extra


class Checks:
    """Counts engine operations and the ones that failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def expect_frames_equal(self, con, got_sql: str, want_sql: str, what: str) -> bool:
        con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {want_sql}")
        missing, extra = diff_counts(con, got_sql, "SELECT * FROM _oracle")
        return self.expect(missing == 0 and extra == 0,
                           f"{what}: {missing} oracle rows missing, {extra} unexpected rows")

    def expect_rows_equal(self, got: list, want: list, what: str) -> bool:
        key = repr
        return self.expect(sorted(map(tuple, got), key=key) == sorted(map(tuple, want), key=key),
                           f"{what}: got {got!r}, want {want!r}")
