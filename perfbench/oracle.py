"""Independent DuckDB oracles for the benchmark's outputs.

CDC: the expected lakehouse state is recomputed from the published
changelog files alone (latest row per key by ``seq``, deletes dropped), and
the view is the SELECT of ``tests/fixtures/revenue-analytics.sql`` run
verbatim over that state. Batch: each query's registered ``spec.oracle``.
Nothing here touches Spark, so an engine bug cannot hide in its own oracle.
"""

from __future__ import annotations

import math
import os
import re

import duckdb

from tools.check_oracle import canon, rows_key

# staging table -> (source dir name, primary key, columns)
STAGING = {
    "users_staging": ("users", "user_id",
                      ("user_id", "username", "email", "full_name", "created_at")),
    "movies_staging": ("movies", "movie_id",
                       ("movie_id", "title", "description", "duration_minutes",
                        "start_date", "created_at")),
    "tickets_staging": ("tickets", "ticket_id",
                        ("ticket_id", "movie_id", "user_id", "cost", "status",
                         "purchased_at")),
}

# Numeric values are compared to within one cent: the engine rounds
# AVG(cost) to the DDL's DECIMAL(10,2) while DuckDB averages in DOUBLE. A
# real error moves a sum by a whole ticket cost (>= 8.50) or a count by one,
# so the tolerance cannot hide one.
TOLERANCE = 0.01


def view_select(fixtures_dir: str) -> str:
    """The SELECT of the revenue view's INSERT, exactly as the script has it."""
    with open(os.path.join(fixtures_dir, "revenue-analytics.sql")) as f:
        script = f.read()
    m = re.search(r"INSERT\s+INTO\s+movie_revenue_realtime\s+(SELECT\b.*?);",
                  script, re.I | re.S)
    return m.group(1)


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    table = con.execute(sql).fetch_arrow_table()
    return table.column_names, [tuple(r.values()) for r in table.to_pylist()]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, abs_tol=TOLERANCE)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got_cols, got_rows, want_cols, want_rows, key: str | None = None) -> bool:
    """Order-insensitive equality by column name, canonicalized the way the
    repo's oracle gate does it. Without ``key`` the match is exact, as the
    gate's; with it, rows pair up by that unique column, numbers may differ
    by the tolerance above, and extra ``got`` columns are ignored (PK-table
    snapshots carry their ``seq`` ordering column)."""
    if key is None:
        if sorted(got_cols) != sorted(want_cols) or len(got_rows) != len(want_rows):
            return False
        return rows_key(got_rows, list(got_cols)) == rows_key(want_rows, list(want_cols))
    if not set(want_cols) <= set(got_cols) or len(got_rows) != len(want_rows):
        return False
    idx = [list(got_cols).index(c) for c in want_cols]
    got_cols, got_rows = want_cols, [tuple(r[i] for i in idx) for r in got_rows]

    def keyed(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        k = list(cols).index(key)
        return sorted(((r[k], tuple(canon(r[i]) for i in order)) for r in rows),
                      key=lambda kr: kr[0])

    return all(g[0] == w[0] and _close(g[1], w[1])
               for g, w in zip(keyed(got_cols, got_rows), keyed(want_cols, want_rows)))


class CdcOracle:
    """Expected CDC state from changelog files, rebuilt on demand."""

    def __init__(self, fixtures_dir: str) -> None:
        self.con = duckdb.connect()
        self.view_sql = view_select(fixtures_dir)

    def load(self, files: dict[str, list[str]]) -> None:
        """(Re)define the staging views over exactly ``files`` per source
        table: the state after those epochs were applied."""
        for name, (src, key, cols) in STAGING.items():
            paths = ", ".join(f"'{p}'" for p in sorted(files[src]))
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT {', '.join(cols)} FROM ("
                f" SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY seq DESC)"
                f" AS __rn FROM read_parquet([{paths}])) WHERE __rn = 1 AND op <> 'D'"
            )

    def view(self) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, self.view_sql)

    def staging(self, name: str) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, f"SELECT * FROM {name}")

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, sql)


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


class BatchOracle:
    """DuckDB over the fixed batch tables; checks materialized outputs."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def expected(self, oracle_sql: str) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, oracle_sql)

    def output(self, out_dir: str) -> tuple[list[str], list[tuple]]:
        return fetch(self.con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")


__all__ = ["BatchOracle", "CdcOracle", "STAGING", "canon", "same_rows", "spark_rows"]
