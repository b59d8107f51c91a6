"""OPERATORS.md and the driver's key order are derived from the live
REGISTRY and the committed CORRECTNESS artifacts, never hand-maintained."""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry
from week3_2_practice_big_data__spark import REGISTRY


def test_operators_md_in_sync():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from gen_operators import render

    path = os.path.join(repo, "OPERATORS.md")
    assert os.path.exists(path), "run `python gen_operators.py`"
    with open(path) as f:
        on_disk = f.read()
    assert on_disk == render(), (
        "OPERATORS.md is stale — regenerate with `python gen_operators.py`"
    )


def test_registration_shape_builder_names_match_keys():
    """VERDICT r9 item 7 — the decorator trap (three rounds running):
    extracting a helper between `@register(...)` and its builder silently
    attaches the decorator to the WRONG def. Catch it at commit time:
    every REGISTRY value's builder must be named after its key, except
    the documented factory aliases below."""
    from week3_2_practice_big_data__spark import REGISTRY

    # the five shared-projection keys are built by the `_q` factory in
    # functions/projections.py (one closure per key, by design)
    factory_aliases = {
        "proj_dist_radial": "_q",
        "proj_dot_light": "_q",
        "proj_minmax_norm": "_q",
        "proj_shade_affine": "_q",
        "proj_color_scale": "_q",
    }
    bad = {
        key: q.builder.__name__
        for key, q in REGISTRY.items()
        if q.builder.__name__ != factory_aliases.get(key, key)
    }
    assert not bad, f"decorator-trap suspects (builder name != key): {bad}"


def _unexpired_changed(green):
    return [
        k for k, tag in entry.CHANGED.items()
        if k not in green or entry._round(green[k][1]) <= entry._round(tag)
    ]


def test_driver_surface_covers_registry():
    """The derived order reorders keys; it never drops, adds or rewrites
    one: queries() is the REGISTRY key set and oracle_sql() the REGISTRY
    oracle texts."""
    keys = list(entry.queries())
    assert len(keys) == len(set(keys)) and set(keys) == set(REGISTRY)
    assert entry.oracle_sql() == {
        k: q.oracle for k, q in REGISTRY.items() if q.oracle is not None
    }


def test_unexpired_changed_keys_lead():
    lead = _unexpired_changed(entry.green_rounds())
    assert list(entry.queries())[: len(lead)] == lead


def test_rest_ordered_by_last_green_round():
    """After the leading CHANGED keys: never-green keys, then keys by last
    green round, oldest first (the least recently verified fill the
    driver's window)."""
    green = entry.green_rounds()
    rest = entry.ordered_keys(green)[len(_unexpired_changed(green)):]
    rounds = [entry._round(green[k][1]) if k in green else -1 for k in rest]
    assert rounds == sorted(rounds)


def test_changed_key_expires_once_verified():
    """A CHANGED key leads only while its last green row is not newer than
    its tag, so a stale CHANGED entry cannot freeze the window."""
    a, b, c = list(REGISTRY)[:3]
    green = {a: ("r01", "r03"), b: ("r01", "r01"), c: ("r01", "r02")}
    order = entry.ordered_keys(green, changed={a: "r02", c: "r02"})
    assert order[0] == c  # last green r02 <= tag r02: still leads
    assert order[-2:] == [b, a]  # a was verified at r03: expired
    assert set(order[1:-2]) == set(REGISTRY) - {a, b, c}  # never green


def test_green_rule(tmp_path):
    """Oracle rows are green only on a full hash/rows/schema match with no
    error; rows-only rows when they produced rows (``no_oracle`` is their
    normal err). Unregistered keys and non-artifact files are ignored."""
    o1, o2, o3 = [k for k, q in REGISTRY.items() if q.oracle is not None][:3]
    r1, r2 = [k for k, q in REGISTRY.items() if q.oracle is None][:2]
    match = dict(rows_match=True, schema_match=True, hash_match=True,
                 spark_rows=5, oracle_rows=5, err=None)
    rows = dict(rows_match=None, schema_match=None, hash_match=None,
                spark_rows=5, oracle_rows=None, err="no_oracle")
    r01 = {o1: match, o2: rows, r1: rows}
    r02 = {o1: {**match, "hash_match": False}, o2: match,
           o3: {**match, "err": "boom"}, r1: {**rows, "spark_rows": None},
           r2: {**rows, "err": None}, "not_a_registered_key": match}
    for name, rows_ in (("r01", r01), ("r02", r02), ("r02_notes", r01)):
        (tmp_path / f"CORRECTNESS_{name}.json").write_text(json.dumps(rows_))
    assert entry.green_rounds(str(tmp_path)) == {
        o1: ("r01", "r01"), o2: ("r02", "r02"),
        r1: ("r01", "r01"), r2: ("r02", "r02"),
    }
