"""Output checks: order-insensitive digests compared against the DuckDB
oracle twins registered next to each query.

A digest is (row count, sha256 of the sorted canonical rows), with columns
taken in name order, the same canonical form the repository's correctness
gate compares.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass
from datetime import date, datetime

TABLES = ("customer", "documents", "embeddings")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()


class Oracle:
    """DuckDB over the generated tables; computes each query's expected
    digest once per run."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def expected(self, sql: str) -> tuple[int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(cols, res.fetchall())

    def close(self) -> None:
        self.con.close()


@dataclass(frozen=True)
class OracleFailed:
    """The expected digest of a query whose DuckDB twin raised."""

    error: str


def expected_digests(
    data_dir: str, sqls: dict[str, str | None]
) -> dict[str, tuple[int, str] | OracleFailed | None]:
    """Each query's expected digest: ``None`` where it has no twin, and
    ``OracleFailed`` where the twin raised, so that every pass of that
    query counts as failed while the run goes on."""
    oracle = Oracle(data_dir)
    out: dict[str, tuple[int, str] | OracleFailed | None] = {}
    try:
        for name, sql in sqls.items():
            try:
                out[name] = oracle.expected(sql) if sql else None
            except Exception as exc:  # noqa: BLE001 - counted per pass
                out[name] = OracleFailed(repr(exc))
    finally:
        oracle.close()
    return out
