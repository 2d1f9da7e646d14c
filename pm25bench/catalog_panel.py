"""The catalog workload's panel and its oracle check.

The panel is derived from the query registry, not kept by hand: names
group into tag families by their letter prefix (``q``, ``st``, ``d``,
...), and the panel takes the query at a fixed position of each
family's sorted names. With the registry as it is, that position picks
a streaming drain in ``st``, a txlog write in ``d`` and a duplicate-graph
consumer (staged artifact builds) in ``gr``.
"""

from __future__ import annotations

import re
from collections import defaultdict
from types import SimpleNamespace

import pandas as pd

POSITION = 0.6  # share of the way through each family's sorted names
_FAMILY = re.compile(r"([a-z]+)\d")


def family(name: str) -> str:
    return _FAMILY.match(name).group(1)


def families(names) -> dict[str, list[str]]:
    out: dict[str, list[str]] = defaultdict(list)
    for name in sorted(names):
        out[family(name)].append(name)
    return dict(sorted(out.items()))


def panel(names) -> list[str]:
    return [fam[round(POSITION * (len(fam) - 1))] for fam in families(names).values()]


def mismatch(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when a query result has rows and equals its oracle result
    exactly (order-insensitive, as ``tests.oracle_compare`` compares),
    else what is wrong. An empty result fails: two empty frames agree on
    every value, so the comparison would check nothing."""
    from tests.oracle_compare import assert_match

    if got.empty or want.empty:
        return f"{name}: empty result ({len(got)} rows, oracle {len(want)})"
    try:
        assert_match(SimpleNamespace(toPandas=lambda: got), want, name)
    except AssertionError as exc:
        return str(exc)
    return None
