"""tools/ab_diff.py: the geomean speedup and the A/B table's edge cases."""

from __future__ import annotations

import importlib.util
import json
import math
import os

import pytest

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab_diff.py")


@pytest.fixture(scope="module")
def ab_diff():
    spec = importlib.util.spec_from_file_location("ab_diff", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_geomean_divides_by_pairs_kept(ab_diff):
    a = {"q1": 1.0, "q2": 2.0, "q3": 0.0, "only_a": 5.0}
    b = {"q1": 4.0, "q2": 2.0, "q3": 3.0, "only_b": 1.0}
    geo, n = ab_diff.geomean_speedup(a, b)
    assert n == 2 and geo == pytest.approx(2.0)


def test_geomean_with_no_usable_pairs(ab_diff):
    geo, n = ab_diff.geomean_speedup({"q": 0.0}, {"other": 1.0, "q": 1.0})
    assert n == 0 and math.isnan(geo)


def test_main_handles_zero_time_and_no_common_queries(ab_diff, tmp_path, monkeypatch, capsys):
    for a, b in (({"q": 0.0}, {"q": 1.0}), ({"x": 1.0}, {"y": 1.0})):
        pa, pb = tmp_path / "a.json", tmp_path / "b.json"
        pa.write_text(json.dumps({"queries": a}))
        pb.write_text(json.dumps({"queries": b}))
        monkeypatch.setattr("sys.argv", ["ab_diff.py", str(pa), str(pb)])
        assert ab_diff.main() == 0
        assert "geomean B/A speedup=nan over n=0" in capsys.readouterr().out
