"""Output checks, run with DuckDB outside the timed region.

* Registry keys: the engine's result (collected as Arrow) must hash-match
  the key's DuckDB oracle on the same directory.  Engine columns are
  cast to the oracle's types, then both sides are hashed
  order-insensitively (sum of row hashes, plus the row count).
* incremental_sync: the engine's final snapshot files must hash-match a
  DuckDB replay of the reference MERGE, applied batch by batch to the
  same change files.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb


def _connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def _digest(con, rel: str, cols: list[str]) -> tuple[int, int]:
    quoted = ", ".join(f'"{c}"' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({quoted}))::HUGEINT, 0) FROM {rel}"
    ).fetchone()
    return int(n), int(h)


class Oracle:
    """A registry key's DuckDB oracle on one directory, run once; engine
    results are then digested against its columns and types.  A digest
    is ``(columns, rows, hash)``."""

    def __init__(self, oracle_sql: str, data_dir: str, tables, threads: int):
        self.con = _connect(threads)
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        oracle = self.con.execute(oracle_sql).fetch_arrow_table()
        self.cols = sorted(oracle.column_names)
        self.con.register("orc_raw", oracle)
        types = dict(
            self.con.execute("SELECT column_name, column_type FROM (DESCRIBE orc_raw)").fetchall()
        )
        self.casts = ", ".join(f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in self.cols)
        self.digest = self._digest_of("orc_raw")

    def _digest_of(self, rel: str) -> tuple:
        self.con.execute(f"CREATE OR REPLACE VIEW cast_rel AS SELECT {self.casts} FROM {rel}")
        return (tuple(self.cols), *_digest(self.con, "cast_rel", self.cols))

    def engine_digest(self, engine_arrow) -> tuple:
        cols = sorted(engine_arrow.column_names)
        if cols != self.cols:
            return (tuple(cols), engine_arrow.num_rows, 0)
        self.con.register("eng_raw", engine_arrow)
        try:
            return self._digest_of("eng_raw")
        finally:
            self.con.unregister("eng_raw")

    def close(self) -> None:
        self.con.close()


ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
]


def replay_digest(
    seed_path: str,
    batches: list[str],
    initial_cursor: dt.datetime,
    batch_max_cursor: list[dt.datetime],
    lookback: dt.timedelta,
    threads: int,
) -> tuple[int, int]:
    """Replay cursor filter → latest-wins dedup → MERGE for each batch in
    order and digest the result."""
    con = _connect(threads)
    sel = ", ".join(ORDERS_COLS)
    con.execute(f"CREATE TABLE snap AS SELECT {sel} FROM '{seed_path}'")
    cursor = initial_cursor
    case = ", ".join(
        f"CASE WHEN take THEN s_{c} ELSE t_{c} END AS {c}" for c in ORDERS_COLS
    )
    tcols = ", ".join(f"t.{c} AS t_{c}" for c in ORDERS_COLS)
    scols = ", ".join(f"s.{c} AS s_{c}" for c in ORDERS_COLS)
    for path, bmax in zip(batches, batch_max_cursor):
        thr = cursor - lookback
        con.execute(
            f"""CREATE OR REPLACE TABLE snap AS
            WITH src AS (
              SELECT {sel} FROM (
                SELECT *, row_number() OVER (PARTITION BY o_orderkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM '{path}' WHERE o_orderdate > TIMESTAMP '{thr.isoformat(sep=" ")}')
              WHERE rn = 1),
            j AS (
              SELECT (t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL
                      AND coalesce(t.o_orderdate != s.o_orderdate, FALSE))) AS take,
                     {tcols}, {scols}
              FROM snap t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
            SELECT {case} FROM j"""
        )
        cursor = max(cursor, bmax)
    out = _digest(con, "snap", ORDERS_COLS)
    con.close()
    return out


def snapshot_digest(version_dir: str, threads: int) -> tuple[int, int]:
    con = _connect(threads)
    casts = ", ".join(
        f"CAST({c} AS {t}) AS {c}"
        for c, t in zip(
            ORDERS_COLS, ["BIGINT", "BIGINT", "VARCHAR", "DOUBLE", "TIMESTAMP", "VARCHAR"]
        )
    )
    con.execute(
        f"CREATE VIEW snap AS SELECT {casts} FROM read_parquet('{version_dir}/*.parquet')"
    )
    out = _digest(con, "snap", ORDERS_COLS)
    con.close()
    return out


def cursor_max(cursor_dir: str, object_name: str, threads: int):
    con = _connect(threads)
    (v,) = con.execute(
        f"SELECT max(cursor_date) FROM read_parquet('{cursor_dir}/*.parquet') "
        f"WHERE object = '{object_name}'"
    ).fetchone()
    con.close()
    return v
