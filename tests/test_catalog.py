"""CATALOG.md can never drift from the registry: regenerating must
reproduce the committed file byte-for-byte (docs that lie fail the
suite)."""

from __future__ import annotations


def test_catalog_is_current():
    from tools.gen_catalog import render

    with open("CATALOG.md") as f:
        committed = f.read()
    assert committed == render(), (
        "CATALOG.md is stale — run: PYTHONPATH=. python tools/gen_catalog.py --write"
    )
