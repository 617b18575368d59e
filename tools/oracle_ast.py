"""Fingerprint every registered oracle by its DuckDB parse tree.

Prints one ``name<TAB>sha256`` line per ``ORACLES`` entry, in registry
order. The hash is taken over DuckDB's ``json_serialize_sql`` output
with every ``query_location`` key stripped, so whitespace, comments and
line layout do not count, while any change to what the SQL means does.
Run it on two checkouts and ``diff`` the outputs to see which oracles a
refactor really changed. Oracles that fail to serialize are printed as
``name<TAB>ERROR <message>`` and make the exit status 1.

``json_serialize_sql`` takes its text as a VARCHAR; a bound ``?``
parameter is rejected, so the SQL goes in as an escaped literal.

Usage: python tools/oracle_ast.py [name ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _strip_locations(node):
    if isinstance(node, dict):
        return {
            k: _strip_locations(v) for k, v in node.items() if k != "query_location"
        }
    if isinstance(node, list):
        return [_strip_locations(v) for v in node]
    return node


def ast_json(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    """Canonical JSON of `sql`'s parse tree, `query_location` removed.
    Raises ValueError when DuckDB cannot parse the text."""
    literal = "'" + sql.replace("'", "''") + "'"
    (out,) = con.execute(f"SELECT json_serialize_sql({literal}::VARCHAR)").fetchone()
    tree = json.loads(out)
    if tree.get("error"):
        raise ValueError(tree.get("error_message", "serialize error"))
    return json.dumps(_strip_locations(tree), sort_keys=True)


def main(argv: list[str]) -> int:
    from aurora_mito_etl_spark.plans.queries import ORACLES

    con = duckdb.connect()
    errors = 0
    for name, sql in ORACLES.items():
        if argv and name not in argv:
            continue
        try:
            digest = hashlib.sha256(ast_json(con, sql).encode()).hexdigest()
        except (ValueError, duckdb.Error) as e:
            errors += 1
            print(f"{name}\tERROR {str(e).splitlines()[0]}")
            continue
        print(f"{name}\t{digest}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
