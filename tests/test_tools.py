"""Unit tests for the measurement/verification tooling itself — the
round-1 lesson was that a lenient local checker hides driver failures,
so the tooling's own semantics deserve tests. No Spark needed."""

import os
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, os.path.join(REPO, "BENCH"))


class TestOracleCompare:
    def test_dtype_kind_mismatch_fails(self):
        # the exact round-1 failure mode: DuckDB HUGEINT -> float64 vs
        # Spark int64, values identical — must FAIL, not normalize away
        from check_oracles import compare
        a = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20],
                                                     dtype="int64")})
        b = pd.DataFrame({"k": [1, 2], "v": pd.array([10.0, 20.0],
                                                     dtype="float64")})
        diff = compare(a, b)
        assert diff is not None and "dtype kind mismatch" in diff

    def test_int_width_difference_passes(self):
        from check_oracles import compare
        a = pd.DataFrame({"v": pd.array([1, 2], dtype="int32")})
        b = pd.DataFrame({"v": pd.array([1, 2], dtype="int64")})
        assert compare(a, b) is None

    def test_value_difference_fails(self):
        from check_oracles import compare
        a = pd.DataFrame({"v": [1, 2]})
        b = pd.DataFrame({"v": [1, 3]})
        assert compare(a, b) is not None

    def test_order_insensitive(self):
        from check_oracles import compare
        a = pd.DataFrame({"k": ["b", "a"], "v": [2, 1]})
        b = pd.DataFrame({"k": ["a", "b"], "v": [1, 2]})
        assert compare(a, b) is None


class TestOracleResume:
    PRIOR = {"sf_dir": "/data/sf0.01", "commit": "a" * 40,
             "queries": {"q_ok": {"status": "OK"},
                         "q_rows": {"status": "rows_only"},
                         "q_fail": {"status": "FAIL"}}}

    def test_same_commit_keeps_completed_rows(self):
        from check_oracles import resumable_rows
        kept = resumable_rows(self.PRIOR, "/data/sf0.01", "a" * 40)
        assert set(kept) == {"q_ok", "q_rows"}

    def test_other_commit_reruns_every_query(self):
        from check_oracles import resumable_rows
        assert resumable_rows(self.PRIOR, "/data/sf0.01", "b" * 40) == {}
        # a file written before the stamp existed is never reused
        unstamped = {k: v for k, v in self.PRIOR.items() if k != "commit"}
        assert resumable_rows(unstamped, "/data/sf0.01", "a" * 40) == {}
        assert resumable_rows(self.PRIOR, "/data/sf0.01", None) == {}

    def test_other_sf_dir_reruns_every_query(self):
        from check_oracles import resumable_rows
        assert resumable_rows(self.PRIOR, "/data/sf0.1", "a" * 40) == {}

    def test_head_commit_is_a_sha(self):
        from check_oracles import head_commit
        sha = head_commit()
        assert sha is None or (len(sha) == 40
                               and set(sha) <= set("0123456789abcdef"))


class TestScalingVerdicts:
    def _summary(self, walls, cals):
        return {
            "levels": {f"local[{c}]": {"wall_sec": w}
                       for c, w in walls.items()},
            "calibration_runs": cals,
            "cpu_calibration_units": cals[-1],
        }

    def test_ceiling_uses_quietest_window(self):
        from scaling import recompute_verdicts
        s = self._summary(
            {2: 130.0, 8: 40.0, 32: 15.0},
            # second (contended) calibration must NOT lower the ceiling
            [{"2": 3000, "8": 12000, "32": 42000},
             {"2": 1500, "8": 5000, "32": 16000}])
        out = recompute_verdicts(s)
        assert out["hw_ceiling_2_to_8"] == 1.0        # 12000/3000/4
        assert out["hw_ceiling_8_to_32"] == 0.875     # 42000/12000/4
        assert out["scaling_efficiency_2_to_8"] == round(130 / 160, 3)

    def test_missing_level_skips_pair(self):
        from scaling import recompute_verdicts
        s = self._summary({8: 40.0, 32: 15.0},
                          [{"2": 3000, "8": 12000, "32": 42000}])
        out = recompute_verdicts(s)
        assert "scaling_efficiency_2_to_8" not in out
        assert "scaling_efficiency_8_to_32" in out

    def test_pass_is_normalized_pass(self):
        from scaling import recompute_verdicts
        s = self._summary({2: 128.0, 8: 40.0, 32: 15.0},
                          [{"2": 3000, "8": 12000, "32": 36000}])
        out = recompute_verdicts(s)
        # raw 8->32 = 40/60 = 0.667 < 0.8; ceiling 0.75 -> norm 0.889
        assert out["raw_pass_8_to_32"] is False
        assert out["normalized_pass_8_to_32"] is True
        assert out["pass_8_to_32"] is True


class TestRenderRobustness:
    def _summary_one_pair(self):
        lv32 = {"cpus": 32, "rows": 100, "walls": [2.0], "wall_sec": 2.0,
                "points_per_sec": 50.0, "raw_rows_per_sec": 50.0}
        lv8 = {"cpus": 8, "rows": 100, "walls": [6.0], "wall_sec": 6.0,
               "points_per_sec": 16.7, "raw_rows_per_sec": 16.7}
        return {"rows": 100, "merged_runs": 1, "iters_per_level": 1,
                "levels": {"local[8]": lv8, "local[32]": lv32},
                "calibration_runs": [{"2": 100, "8": 400, "32": 1600}],
                "cpu_calibration_units": {"2": 100, "8": 400, "32": 1600}}

    def test_partial_levels_render_without_keyerror(self):
        # a --levels 8,32 run has no 2->8 pair; render must not crash
        # (the old f-string KeyError'd AFTER truncating BASELINE.md)
        import scaling
        s = scaling.recompute_verdicts(self._summary_one_pair())
        md = scaling.render_md(s)
        assert "n/a (level not measured)" in md
        assert "local[8] -> local[32]" in md

    def test_verdict_context_tracks_passes(self):
        import scaling
        s = scaling.recompute_verdicts(self._summary_one_pair())
        # raw eff 8->32 = 6/(4*2) = 0.75, ceiling 1.0 -> FAIL branch
        md = scaling.render_md(s)
        assert "the table says FAIL" in md
        s["pass_2_to_8"] = s["pass_8_to_32"] = True
        assert "Both N->4N pairs meet the criterion" in scaling.render_md(s)
