"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB on sf0.01 (rowcount + columns + values)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.harness import compare_query

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def _artifact_rounds(repo: Path) -> dict[str, int]:
    last: dict[str, int] = {}
    for p in repo.glob("CORRECTNESS_r[0-9]*.json"):
        rnd = int(p.stem.split("_r")[-1])
        for name in json.loads(p.read_text()):
            last[name] = max(rnd, last.get(name, 0))
    return last


def test_sweep_order_follows_correctness_artifacts():
    """Queries in no driver CORRECTNESS artifact lead the sweep; after them
    the last-checked round never decreases."""
    last = _artifact_rounds(Path(entry_mod.__file__).resolve().parent)
    rounds = [last.get(n, 0) for n in QUERIES]
    assert rounds == sorted(rounds)
    assert set(QUERIES) == set(entry_mod.QUERIES)


def test_sweep_order_without_artifacts_is_registration_order(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(entry_mod, "_REPO", tmp_path)
    assert list(entry_mod.queries()) == list(entry_mod.QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_parity, name):
    problems = compare_query(spark, name, QUERIES[name], ORACLES[name], sf_parity)
    assert not problems, "\n".join(problems)
