"""Seeded inputs and the output checks (no Spark)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import inputs as I  # noqa: E402
from perfbench import oracle as O  # noqa: E402


def test_inputs_follow_the_seed():
    pd.testing.assert_frame_equal(I.points(5, 100), I.points(5, 100))
    pd.testing.assert_frame_equal(I.rects(5, 100, 0.2, 0.1), I.rects(5, 100, 0.2, 0.1))
    pd.testing.assert_frame_equal(I.corpus(5, 50), I.corpus(5, 50))
    assert not I.points(5, 100)["x"].equals(I.points(6, 100)["x"])
    assert not I.corpus(5, 50)["text"].equals(I.corpus(6, 50)["text"])


def test_hot_share_packs_rows_into_one_box():
    r = I.rects(3, 4000, hot_share=0.25, hot_width=0.1)
    cx, cy = r["minx"].to_numpy(), r["miny"].to_numpy()
    h, _, _ = np.histogram2d(cx, cy, bins=10, range=[[0, 1], [0, 1]])
    assert h.max() > 5 * h.mean()


def test_star_overlay_check():
    # (2, 3) and (4, 5) are bbox candidates; only (4, 5) has overlapping
    # inscribed disks, so only it must be present
    cand = pd.DataFrame({"p_partkey": [2, 4], "q_partkey": [3, 5],
                         "area_a": [1.0, 1.0], "area_b": [0.5, 2.0],
                         "lens": [0.0, 0.4]})
    ok = pd.DataFrame({"p_partkey": [4, 2], "q_partkey": [5, 3], "ia": [0.9, 0.5]})
    assert O.star_overlay_ok(ok, cand) is None
    assert O.star_overlay_ok(ok.iloc[:1], cand) is None
    not_candidate = pd.DataFrame({"p_partkey": [4, 2], "q_partkey": [5, 5],
                                  "ia": [0.9, 0.1]})
    assert "not bbox candidates" in O.star_overlay_ok(not_candidate, cand)
    too_big = pd.DataFrame({"p_partkey": [4, 2], "q_partkey": [5, 3], "ia": [0.9, 0.6]})
    assert "areas outside" in O.star_overlay_ok(too_big, cand)
    missing = pd.DataFrame({"p_partkey": [2], "q_partkey": [3], "ia": [0.5]})
    assert "missing" in O.star_overlay_ok(missing, cand)
    empty = pd.DataFrame({"p_partkey": [], "q_partkey": [], "ia": []})
    assert "missing" in O.star_overlay_ok(empty, cand)
    too_small = pd.DataFrame({"p_partkey": [4], "q_partkey": [5], "ia": [0.3]})
    assert "below their inscribed-disk overlap" in O.star_overlay_ok(too_small, cand)


def test_star_candidates_lens(tmp_path):
    """Concentric stars of equal size: the lens is the whole inscribed
    disk; far-apart stars whose boxes still touch get no lens."""
    h = 0.05
    parts = pd.DataFrame({"p_partkey": [2, 3, 4, 5],
                          "minx": [0.2, 0.2, 0.6, 0.6 + 1.6 * h],
                          "miny": [0.2, 0.2, 0.6, 0.6 + 1.6 * h]})
    parts["maxx"] = parts["minx"] + 2 * h
    parts["maxy"] = parts["miny"] + 2 * h
    path = I.write(parts, str(tmp_path / "parts.parquet"))
    oracle = O.Oracle()
    try:
        cand = oracle.star_candidates(path).set_index(["p_partkey", "q_partkey"])
    finally:
        oracle.close()
    assert np.isclose(cand.loc[(2, 3), "lens"], np.pi * (h * O.STAR_IN) ** 2)
    assert np.isclose(cand.loc[(2, 3), "lens"], np.pi * (0.6759 * h) ** 2, rtol=1e-3)
    assert cand.loc[(4, 5), "lens"] == 0.0
    assert cand.loc[(2, 3), "lens"] < cand.loc[(2, 3), "area_a"]


def test_nearest_check_tolerates_last_digit_rounding_only():
    want = pd.DataFrame({"c_custkey": [1, 2], "p_partkey": [7, 8],
                         "dist_r": [0.123456789, 0.5]})
    got = want.copy()
    got.loc[0, "dist_r"] = 0.123456790
    assert O.nearest_ok(got, want) is None
    got.loc[0, "dist_r"] = 0.12345682
    assert O.nearest_ok(got, want) is not None
    got = want.copy()
    got.loc[1, "p_partkey"] = 9
    assert O.nearest_ok(got, want) is not None


def test_same_frame():
    a = pd.DataFrame({"id_a": [1, 2], "id_b": [3, 4], "jaccard": [0.5, 0.25]})
    b = a.iloc[::-1].reset_index(drop=True)
    assert O.same_frame(a, b, ["id_a", "id_b"], "t", tol={"jaccard": 1e-9}) is None
    c = a.assign(jaccard=[0.5, 0.26])
    assert O.same_frame(c, b, ["id_a", "id_b"], "t", tol={"jaccard": 1e-9}) is not None
