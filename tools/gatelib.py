"""Shared helpers for reading the committed CORRECTNESS artifacts.

``green(row)`` is THE definition of a fully-green driver/local gate row
(rows + schema + hash-not-failed + no error), shared by
tools/gen_queries_md.py (the QUERIES.md index) and the local-gate
coverage test in tests/test_registry.py (ADVICE r07: the index used to
skip the err check and could advertise an errored round as green).
"""

from __future__ import annotations


def green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
        and not row.get("err")
    )
