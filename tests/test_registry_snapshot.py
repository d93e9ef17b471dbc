"""Snapshot guard over the query registry and its oracles.

One sha256 covers three things that must not move when
``__spark_entry__.py`` is restructured:

- the ``queries()`` key order (the gate runs the first 50 in order);
- ``bench.HEADLINE`` (keeps the bench total comparable across rounds);
- every oracle's DuckDB parse tree, from ``json_serialize_sql`` with
  each ``query_location`` key dropped.  That form ignores whitespace
  and SQL layout but keeps identifiers and string literals exactly, so
  moving a CTE into a shared fragment passes while any change to what
  an oracle means fails.

A deliberate registry or oracle change updates ``EXPECTED_DIGEST``
in the same commit and says why.
"""

from __future__ import annotations

import hashlib
import json

import duckdb

import __spark_entry__ as entrymod
import bench

EXPECTED_DIGEST = "6e2e379b243c919d2ac41402dc731bfb1dad4edc2a5d99f765749ee3cc0042bb"


def _drop_locations(node):
    if isinstance(node, dict):
        return {
            k: _drop_locations(v) for k, v in node.items() if k != "query_location"
        }
    if isinstance(node, list):
        return [_drop_locations(v) for v in node]
    return node


def _parse_tree(con, sql: str):
    (raw,) = con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()
    tree = json.loads(raw)
    assert not tree["error"], tree.get("error_message")
    return _drop_locations(tree)


def registry_digest() -> str:
    con = duckdb.connect()
    oracles = entrymod.oracle_sql()
    snapshot = {
        "queries": list(entrymod.queries()),
        "headline": list(bench.HEADLINE),
        "oracles": {n: _parse_tree(con, oracles[n]) for n in sorted(oracles)},
    }
    blob = json.dumps(snapshot, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def test_registry_oracle_snapshot():
    assert registry_digest() == EXPECTED_DIGEST


def test_headline_names_are_queries():
    # bench.main silently drops headline names that are not queries,
    # so a renamed query would shrink the headline without notice
    missing = [n for n in bench.HEADLINE if n not in entrymod.queries()]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
