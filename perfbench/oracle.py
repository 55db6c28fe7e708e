"""Independent reference checks, computed with DuckDB.

cdc workloads: the replicated state must equal the latest event per
primary key by sort key (_sk1, _sk2, _sk3, _sk4) over every generated
event - late events, PK-update pairs and deletes (kept as tombstones,
``_is_deleted``) included. The engine's state is read from the parquet
files its ``read_state()`` plan lists, so DuckDB reads the bytes the
engine committed.

analytics: each query's rows, canonicalized (columns by name, rows
sorted), must hash-equal the rows of its DuckDB ``ORACLE_SQL``.

Both workloads end with the same read mix (live count, PK lookups,
top-k); ``ReadRef`` answers it from DuckDB.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa


def _latest_sql(events: str, pk: str, payload: list[str]) -> str:
    cols = ", ".join(payload)
    return f"""
        SELECT {cols}, _sk1, _sk2, _sk3, _sk4, _op = 'DELETE' AS _is_deleted
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY {pk}
                  ORDER BY _sk1 DESC, _sk2 DESC, _sk3 DESC, _sk4 DESC) AS rn
              FROM {events})
        WHERE rn = 1"""


def _project(payload: list[str], ts_cols: set[str]) -> str:
    """Comparable column list: timestamps as epoch microseconds."""
    return ", ".join(f"epoch_us({c}) AS {c}" if c in ts_cols else c
                     for c in payload + ["_sk1", "_sk2", "_sk3", "_sk4",
                                         "_is_deleted"])


class ReadRef:
    """Reference answers to the read mix over one DuckDB table: the
    rows matching ``live`` are the live ones."""

    def __init__(self, con, table: str, pk: str, live: str):
        self.con, self.table, self.pk, self.live = con, table, pk, live

    def count(self) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {self.table} WHERE {self.live}"
        ).fetchone()[0]

    def lookup(self, key: int, cols: list[str]) -> list[tuple]:
        return self.con.execute(
            f"SELECT {', '.join(cols)} FROM {self.table} "
            f"WHERE {self.pk} = ? ORDER BY ALL", [key]).fetchall()

    def topk(self, col: str, k: int) -> list[tuple]:
        return self.con.execute(
            f"SELECT {self.pk}, {col} FROM {self.table} WHERE {self.live} "
            f"ORDER BY {col} DESC, {self.pk} LIMIT {k}").fetchall()


class StateCheck(ReadRef):
    """Reference state of one table, built from its generated events."""

    def __init__(self, events: list[pa.Table], pk: str,
                 payload: list[str], ts_cols: set[str]):
        super().__init__(duckdb.connect(), "ref", pk, "NOT _is_deleted")
        self.payload, self.ts_cols = payload, ts_cols
        self.con.execute("SET threads TO 2")
        ev = pa.concat_tables(events)
        self.con.register("ev", ev)
        self.con.execute(
            f"CREATE TABLE ref AS SELECT {_project(payload, ts_cols)} "
            f"FROM ({_latest_sql('ev', pk, payload)})")
        self.con.unregister("ev")

    def mismatches(self, state_files: list[str]) -> int:
        """Rows in the engine state but not the reference, plus rows in
        the reference but not the state (0 means equal)."""
        files = ", ".join(f"'{f.removeprefix('file:')}'"
                          for f in state_files)
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW st AS SELECT "
            f"{_project(self.payload, self.ts_cols)} "
            f"FROM read_parquet([{files}])")
        a, b = self.con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM st EXCEPT ALL "
            "        SELECT * FROM ref)),"
            "       (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL "
            "        SELECT * FROM st))").fetchone()
        return a + b

    def corrupt(self) -> None:
        """Make the expected state wrong (self-test only)."""
        self.con.execute(
            f"UPDATE ref SET _is_deleted = NOT _is_deleted "
            f"WHERE {self.pk} = (SELECT min({self.pk}) FROM ref)")

    def close(self) -> None:
        self.con.close()


def rows_digest(columns: list[str], rows) -> str:
    from datastream_delta_plugins_spark.testing import normalize_rows
    canon = normalize_rows(columns, rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def oracle_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    return rows_digest([d[0] for d in cur.description], cur.fetchall())
