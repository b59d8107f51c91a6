"""Replays the driver's correctness gate for every oracle-checked key at
sf0.001 (fast), exactly as the driver will at sf0.01 (SURVEY.md §5.2.1)."""

from __future__ import annotations

import pytest

from week3_2_practice_big_data__spark import REGISTRY

from .conftest import SF_SMALL
from .oracle import compare, duck_run

ORACLE_KEYS = sorted(k for k, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_KEYS = sorted(k for k, q in REGISTRY.items() if q.oracle is None)
SCOPED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
)


def build_leaving_session_clean(spark, key):
    """Run `key`'s builder and assert it left the shared session as it
    found it: no active streaming query, and the shuffle width and
    state-store provider unchanged (an unset conf stays unset)."""
    before = {k: spark.conf.get(k, None) for k in SCOPED_CONFS}
    df = REGISTRY[key].builder(spark, SF_SMALL)
    assert [q.name for q in spark.streams.active] == []
    assert {k: spark.conf.get(k, None) for k in SCOPED_CONFS} == before
    return df


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(spark, key):
    sdf = build_leaving_session_clean(spark, key)
    ddf = duck_run(REGISTRY[key].oracle, SF_SMALL)
    compare(sdf, ddf, key)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(spark, key):
    df = build_leaving_session_clean(spark, key)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
