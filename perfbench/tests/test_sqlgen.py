"""Tests for the ad-hoc statement generator.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sqlgen  # noqa: E402

N = 400
SEEDS = [0, 1, 2, 17]

KEYWORDS = {
    "select", "from", "where", "join", "on", "and", "or", "group", "by",
    "having", "limit", "as", "cross",
}
AGGREGATES = {"min", "max", "sum", "count", "avg"}
COLUMN_NAMES = {c for cols in sqlgen.COLUMNS.values() for c in cols}
TOKEN = re.compile(r"'[^']*'|\d+\.\d+|\d+|[A-Za-z_][A-Za-z_0-9]*|<>|<=|>=|[(),.*=<>]")


@pytest.fixture(scope="module")
def data() -> tuple[str, dict[str, int]]:
    d = sqlgen.DATA_DIR
    import pyarrow.parquet as pq

    rows = {t: pq.read_metadata(f"{d}/{t}.parquet").num_rows for t in sqlgen.COLUMNS}
    return d, rows


def _statements(data, seed: int) -> list[sqlgen.Statement]:
    return sqlgen.generate(seed, data[0], data[1], N)


def _tables(sql: str) -> list[str]:
    return re.findall(r"'[^']*/(\w+)\.parquet'", sql)


def _within_subset(st: sqlgen.Statement) -> None:
    sql = st.sql
    tokens = TOKEN.findall(sql)
    assert "".join(tokens) == re.sub(r"\s+", "", sql), f"unexpected characters: {sql}"
    assert tokens[0].lower() == "select", sql
    aliases = set(re.findall(r"\bAS (\w+)", sql)) | set(re.findall(r"'\s+(\w+)\b", sql))
    aliases -= KEYWORDS | {k.upper() for k in KEYWORDS}
    for i, tok in enumerate(tokens):
        word = tok.lower()
        if tok[0] == "'" or tok[0].isdigit() or not tok[0].isalpha():
            continue
        if word in AGGREGATES:
            assert tokens[i + 1] == "(", sql
            continue
        assert word in KEYWORDS or tok in COLUMN_NAMES or tok in aliases, f"{tok!r} in {sql}"
    if "LIMIT" in tokens:
        assert tokens[-2] == "LIMIT" and int(tokens[-1]) == st.limit, sql
    assert "(SELECT" not in sql.upper().replace(" ", "")
    # Cross joins (comma lists or CROSS JOIN) only over the small tables.
    if " CROSS JOIN " in sql or re.search(r"\.parquet' \w+, '", sql):
        assert set(_tables(sql)) <= set(sqlgen.SMALL_TABLES), sql
    # Every other JOIN is an inner join with an ON clause.
    assert sql.count(" JOIN ") - sql.count(" CROSS JOIN ") == sql.count(" ON "), sql


@pytest.mark.parametrize("seed", SEEDS)
def test_same_seed_same_statements(data, seed):
    assert _statements(data, seed) == _statements(data, seed)


def test_different_seeds_differ(data):
    assert _statements(data, 1) != _statements(data, 2)


def test_block_plan_covers_every_template():
    fresh = {k: v for k, v in sqlgen.BLOCK_PLAN.items() if k != "repeat"}
    assert sum(fresh.values()) == sqlgen.FRESH
    assert set(fresh) == set(sqlgen.CORPUS_COUNTS) and min(fresh.values()) >= 1
    total = sum(sqlgen.CORPUS_COUNTS.values())
    for k, n in fresh.items():  # within one slot of the corpus share
        assert abs(n - sqlgen.FRESH * sqlgen.CORPUS_COUNTS[k] / total) < 1, k


@pytest.mark.parametrize("seed", SEEDS)
def test_mix_shares(data, seed):
    sts = _statements(data, seed)
    errors = sum(st.expect is not None for st in sts)
    repeats = len(sts) - len({st.sql for st in sts})
    assert errors >= sqlgen.ERROR_SHARE * N  # repeats of errors add a few more
    assert errors <= (sqlgen.ERROR_SHARE + sqlgen.REPEAT_SHARE) * N
    assert sqlgen.REPEAT_SHARE * N <= repeats <= 0.35 * N


@pytest.mark.parametrize("seed", SEEDS)
def test_statements_within_paper_subset(data, seed):
    for st in _statements(data, seed):
        if st.expect is None:
            _within_subset(st)


@pytest.mark.parametrize("seed", SEEDS)
def test_duckdb_accepts_every_success_statement(data, seed):
    con = duckdb.connect()
    for st in {s.sql: s for s in _statements(data, seed) if s.expect is None}.values():
        con.sql(st.unlimited).fetchall()  # the LIMIT check reads it too
        rows = con.sql(st.sql).fetchall()
        assert len(rows) <= 10_000, st.sql  # Result.from_df's row cap


DUCKDB_ERRORS = {
    "ParserError": duckdb.ParserException,
    "PlannerError": duckdb.BinderException,
    "StorageError": duckdb.IOException,
}


@pytest.mark.parametrize("seed", SEEDS)
def test_error_statements_name_their_class(data, seed):
    con = duckdb.connect()
    seen = set()
    for st in _statements(data, seed):
        if st.expect is None:
            continue
        assert st.expect in sqlgen.ERROR_CLASSES
        seen.add(st.expect)
        with pytest.raises(DUCKDB_ERRORS[st.expect]):
            con.sql(st.sql).fetchall()
    assert seen == set(sqlgen.ERROR_CLASSES)
