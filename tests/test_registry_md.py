"""REGISTRY.md sync check (r9 VERDICT #8): the committed index must
be exactly what ``python tools/gen_registry.py`` writes — the names,
and every bench, probe and summary cell — so it is regenerated whenever
the registry, a docstring or a bench/scaling record changes."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_md_in_sync():
    from tools import gen_registry

    path = os.path.join(REPO, "REGISTRY.md")
    assert os.path.exists(path), "REGISTRY.md missing - run tools/gen_registry.py"
    with open(path) as f:
        committed = f.read()
    assert committed == gen_registry.build(), (
        "REGISTRY.md is stale - run python tools/gen_registry.py"
    )
