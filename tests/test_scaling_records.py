"""Machine-readable scaling-record closure (r9 VERDICT #5).

Every registered heavy-family query (dedup / sim / emb / multimodal /
graph prefixes) must resolve to at least one machine-readable probe
row: a leg in SCALING_registry.json (written by
``tools/scale_probe.py registry`` at sf0.01 vs sf0.1) with at least two
scales. A new heavy query therefore fails here until it is probed —
the same closure the bench coverage pass enforces for timings.

The specialized SCALING_<family>.json files (ann, dedup, wave73, ...)
are additionally shape-checked when present: {leg: {scale: seconds}},
and each must be a family of the driver with exactly the record's legs,
so a re-run updates the same keys.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_every_heavy_query_has_probe_row():
    from tools.scale_probe import heavy_queries

    path = os.path.join(REPO, "SCALING_registry.json")
    assert os.path.exists(path), (
        "SCALING_registry.json missing - run tools/scale_probe.py registry"
    )
    data = _load(path)
    missing = [n for n in heavy_queries() if n not in data]
    assert not missing, (
        f"heavy queries without a scaling probe row: {missing} - "
        "run tools/scale_probe.py registry"
    )
    thin = [n for n in heavy_queries() if len(data.get(n, {})) < 2]
    assert not thin, f"heavy queries probed at fewer than 2 scales: {thin}"


def test_record_contract_rejects_non_timings(tmp_path, monkeypatch):
    """r10 ADVICE: the legs dict is an explicit timings-only contract —
    a count or knob passed as a leg raises instead of silently landing
    in the regression-tripwire file as seconds."""
    import pytest

    from tools import scaling_record as SR

    monkeypatch.setattr(SR, "_ROOT", str(tmp_path))
    SR.record("t", 10, {"q": 1.5, "split": {"construct": 0.5, "exec": 1.0}})
    data = _load(tmp_path / "SCALING_t.json")
    assert data == {
        "q": {"10": 1.5},
        "split.construct": {"10": 0.5},
        "split.exec": {"10": 1.0},
    }
    # merge-update: a second scale refreshes its column only
    SR.record("t", 1, {"q": 0.2})
    assert _load(tmp_path / "SCALING_t.json")["q"] == {"1": 0.2, "10": 1.5}
    with pytest.raises(TypeError, match="timings only"):
        SR.record("t", 1, {"knob": "planes=8"})
    with pytest.raises(TypeError, match="timings only"):
        SR.record("t", 1, {"split": {"rows": [1, 2]}})


def test_scaling_json_shape():
    for path in glob.glob(os.path.join(REPO, "SCALING_*.json")):
        data = _load(path)
        assert isinstance(data, dict) and data, path
        for leg, scales in data.items():
            assert isinstance(scales, dict) and scales, (path, leg)
            for scale, sec in scales.items():
                assert isinstance(sec, (int, float)), (path, leg, scale)


def test_every_scaling_record_is_a_probe_family():
    """Each committed SCALING_<family>.json names a family of
    tools/scale_probe.py whose legs are exactly the record's keys
    (construct/exec/total splits folded onto their leg). Not checked:
    SCALING_cores_r12.json (a one-off core-count record no probe
    writes), SCALING_ann_counts.json (keyed by scale, not leg) and
    SCALING_registry.json (the closure test above covers it)."""
    from tools.scale_probe import FAMILIES

    skip = {"cores_r12", "ann_counts", "registry"}
    for path in sorted(glob.glob(os.path.join(REPO, "SCALING_*.json"))):
        family = os.path.basename(path)[len("SCALING_"):-len(".json")]
        if family in skip:
            continue
        assert family in FAMILIES, f"{path}: no probe family {family}"
        legs = {
            k.rsplit(".", 1)[0] if k.endswith((".construct", ".exec", ".total")) else k
            for k in _load(path)
        }
        assert legs == set(FAMILIES[family]), (family, legs ^ set(FAMILIES[family]))
