"""Expected results of the query ops, and the check of a collected result.

A result is reduced to a fingerprint: row count, sorted column names and
an order-insensitive value hash with the same cell canonicalization the
DuckDB correctness gate uses (``None`` → ``NULL``, floats via ``%.6g``,
bools as 0/1). The canonicalization is copied here rather than imported
so that a change to the program cannot change what the benchmark accepts.

Expected fingerprints come from the DuckDB oracle. They live in
``expected/<sf>.json``, keyed by query name and recording the SHA-256 of
the oracle SQL they came from. ``make_expected.py`` rebuilds the file.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
FIXTURES = os.path.join(REPO, "tests", "fixtures")
_FIXTURE_PATH = re.compile(r"^/.+/tests/fixtures/(.+)$")
_SQL_FIXTURE_PATH = re.compile(r"'/[^']*/tests/fixtures/")


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def fingerprint(rows: list[tuple], columns: list[str]) -> dict:
    return {"rows": len(rows), "columns": sorted(columns), "value_hash": value_hash(rows, columns)}


def sql_sha(sql: str | None) -> str | None:
    return hashlib.sha256(sql.encode()).hexdigest()[:16] if sql else None


def relocate_fixture_sql(sql: str) -> str:
    """Point an oracle's absolute media-fixture paths at this checkout."""
    return _SQL_FIXTURE_PATH.sub("'" + FIXTURES + "/", sql)


def relocate_fixture_dirs(module) -> list[str]:
    """Rebind the registry's absolute media-fixture paths to this
    checkout's ``tests/fixtures``, so the ops read the fixtures that ship
    with the code under test wherever the checkout lives. Returns the
    names rebound."""
    rebound = []
    for name, value in list(vars(module).items()):
        if isinstance(value, str) and name.isupper():
            m = _FIXTURE_PATH.match(value)
            if m:
                setattr(module, name, os.path.join(FIXTURES, m.group(1)))
                rebound.append(name)
    return rebound


def cache_path(sf: str) -> str:
    return os.path.join(HERE, "expected", f"sf{sf}.json")


def load_cache(sf: str) -> dict:
    with open(cache_path(sf), encoding="utf-8") as fh:
        return json.load(fh)


def _pandas_float_columns(con, sql: str, rows: list[tuple]) -> set[int]:
    """Columns the gate receives as pandas float64: HUGEINT, DOUBLE and
    DECIMAL always, integer columns when they hold a NULL."""
    always = re.compile(r"^(HUGEINT|UHUGEINT|DOUBLE|DECIMAL\()")
    integral = re.compile(r"^U?(TINYINT|SMALLINT|INTEGER|BIGINT)$")
    out = set()
    for i, row in enumerate(con.execute(f"DESCRIBE {sql}").fetchall()):
        t = str(row[1]).upper()
        if always.match(t) or (integral.match(t) and any(r[i] is None for r in rows)):
            out.add(i)
    return out


def oracle_fingerprint(sf_dir: str, sql: str) -> dict:
    """Run one oracle on DuckDB the way the correctness gate does."""
    import duckdb

    from parcialbigdata_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        sql = relocate_fixture_sql(sql)
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
        floaty = _pandas_float_columns(con, sql, rows)
        rows = [
            tuple(float(v) if i in floaty and v is not None else v for i, v in enumerate(r))
            for r in rows
        ]
    finally:
        con.close()
    return fingerprint(rows, cols)


class Expectations:
    """Expected fingerprints for one scale factor.

    An entry whose recorded oracle hash no longer matches the registry's
    oracle SQL is stale: it is recomputed on DuckDB (outside any timer)
    the first time it is needed, and kept for the rest of the run."""

    def __init__(self, sf: str, sf_dir: str, oracles: dict[str, str]):
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.entries = load_cache(sf)["queries"]

    def get(self, name: str) -> dict:
        entry = self.entries.get(name)
        if entry is None:
            raise KeyError(f"no expected result recorded for {name}")
        sql = self.oracles.get(name)
        if entry["oracle_sha"] != sql_sha(sql):
            entry = dict(entry, **oracle_fingerprint(self.sf_dir, sql), oracle_sha=sql_sha(sql))
            self.entries[name] = entry
        return entry

    def check(self, name: str, rows: list[tuple], columns: list[str]) -> list[str]:
        """Problems with a collected result; empty when it matches."""
        want = self.get(name)
        got = fingerprint(rows, columns)
        return [
            f"{k} {got[k]!r} != {want[k]!r}"
            for k in ("rows", "columns", "value_hash")
            if got[k] != want[k]
        ]
