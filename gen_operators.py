#!/usr/bin/env python
"""Generate OPERATORS.md from the query REGISTRY (VERDICT r4 item 8).

The coverage ledger used to be hand-maintained prose in SURVEY §8 and
drifted at least once; this script derives it mechanically — one row per
registered key with its check mode (oracle / rows-only), builder
module:function (never a line number), tags, and its first green driver
round (`__spark_entry__.green_rounds`) — and `tests/test_registry_doc.py`
pins OPERATORS.md == regenerated text so the ledger can never drift.

Run from the repo root: `python gen_operators.py`.
"""

from __future__ import annotations

import inspect
import os
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def render() -> str:
    from __spark_entry__ import green_rounds
    from week3_2_practice_big_data__spark import REGISTRY

    green = green_rounds()
    lines = [
        "# Operator registry ledger (generated — do not edit)",
        "",
        "Generated by `gen_operators.py` from the live query REGISTRY;",
        "`tests/test_registry_doc.py` asserts this file is in sync. One row",
        "per registered key: check mode (`oracle` = DuckDB value-hash gate,",
        "`rows-only` = error/row-count/schema signal by design), the",
        "builder's `module:function`, registry tags, and the first driver round",
        "whose CORRECTNESS artifact verified the key (`pending` = awaiting",
        "its first driver window; such keys are still pytest-replayed",
        "against their oracle at sf0.001 and swept at sf0.01).",
        "",
    ]
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    lines += [
        f"**{len(REGISTRY)} keys: {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only.**",
        "",
        "| key | check | module:function | tags | driver |",
        "|---|---|---|---|---|",
    ]
    for key in sorted(REGISTRY):
        q = REGISTRY[key]
        fn = inspect.unwrap(q.builder)
        mode = "oracle" if q.oracle is not None else "rows-only"
        first = green[key][0] if key in green else "pending"
        lines.append(
            f"| {key} | {mode} | {fn.__module__}:{fn.__qualname__} "
            f"| {', '.join(q.tags)} | {first} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(_REPO, "OPERATORS.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
