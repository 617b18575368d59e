"""`tools/oracle_ast.py` fingerprints what an oracle means, not how it
is laid out: whitespace, comments and quoting of the SQL text hash the
same, a changed literal does not, and every registered oracle parses."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from oracle_ast import ast_json  # noqa: E402


def test_layout_does_not_count_meaning_does():
    con = duckdb.connect()
    base = ast_json(con, "SELECT a, 'x''y' AS s FROM t WHERE a > 1")
    assert base == ast_json(
        con, "SELECT a,\n  'x''y' AS s -- note\n  FROM t\n WHERE a > 1"
    )
    assert base != ast_json(con, "SELECT a, 'x''y' AS s FROM t WHERE a > 2")
    with pytest.raises(ValueError):
        ast_json(con, "SELECT FROM WHERE")


def test_every_oracle_serializes():
    from aurora_mito_etl_spark.plans.queries import ORACLES

    con = duckdb.connect()
    for sql in ORACLES.values():
        ast_json(con, sql)
