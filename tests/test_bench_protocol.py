"""Unit tests for the scaling-protocol plumbing in bench.py (no Spark):
master-string core parsing and the bracketing-control pair selection
that decides which N/4N measurements count as evidence."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _clean_pair_efficiencies, _control_task, _master_cores


def test_master_cores():
    assert _master_cores("local[2]") == 2
    assert _master_cores("local[32]") == 32
    assert _master_cores("local[*]") == (os.cpu_count() or 32)
    assert _master_cores("local-cluster[1,2,8192]") == 2
    assert _master_cores("local-cluster[4,2,8192]") == 8
    assert _master_cores("local-cluster[4,1,8192]") == 4


def test_clean_pairs_require_both_brackets():
    # pair i is clean iff controls[i] AND controls[i+1] pass the gate:
    # a host that degrades mid-protocol invalidates the pair it brackets
    adj = [0.85, 0.60, 0.82]
    controls = [0.95, 0.92, 0.55, 0.97]  # degraded window around pair 1/2
    assert _clean_pair_efficiencies(adj, controls, 0.9) == [0.85]
    # fully-quiet protocol keeps every pair
    assert _clean_pair_efficiencies(adj, [1.0] * 4, 0.9) == adj
    # fully-degraded protocol keeps none
    assert _clean_pair_efficiencies(adj, [0.5] * 4, 0.9) == []


def _fake_result(adj, controls, tn=None, t4n=None):
    return {
        "adjacent_pair_efficiencies": adj,
        "bracketing_controls": controls,
        "control_gate": 0.9,
        "reps": {"t_n": tn or [100.0] * len(adj), "t_4n": t4n or [30.0] * len(adj)},
        "n_docs": 1000,
        "masters": ["local-cluster[1,2,8192]", "local-cluster[4,2,8192]"],
    }


def test_merge_history_records_sha_and_scopes_headline(tmp_path):
    import json

    from bench import _code_sha, _merge_scaling_history

    rec = str(tmp_path / "SCALING_RESULT.json")
    # stale-code history: two clean pairs recorded without a sha
    with open(rec, "w") as f:
        json.dump(
            {"clean_pairs_history": [
                {"efficiency": 0.50, "recorded_at": "old"},
                {"efficiency": 0.52, "recorded_at": "old"},
            ]},
            f,
        )
    # one new clean pair: not enough current-code evidence -> headline
    # spans all clean pairs and surfaces the version mix
    m1 = _merge_scaling_history(_fake_result([0.80], [0.95, 0.96]), rec)
    assert m1["clean_pairs_history"][-1]["code_sha"] == _code_sha()
    from bench import _code_fingerprint

    assert m1["clean_pairs_history"][-1]["code_fp"] == _code_fingerprint()
    assert m1["n_clean_pairs"] == 3
    assert m1["efficiency_n_to_4n"] == 0.52  # true median, all pairs
    assert "mix" in m1["headline_scope"]
    with open(rec, "w") as f:
        json.dump(m1, f)
    # a second current-code pair flips the headline scope to current
    m2 = _merge_scaling_history(_fake_result([0.84], [0.95, 0.96]), rec)
    assert m2["n_clean_pairs"] == 2
    assert m2["efficiency_n_to_4n"] == 0.82  # median of [0.80, 0.84]
    assert _code_sha() in m2["headline_scope"]
    assert m2["all_clean_pair_efficiencies"] == [0.5, 0.52, 0.8, 0.84]
    # pairs recorded under a commit that only touched docs/evidence
    # (different git sha, same engine fingerprint) still count as
    # current-code evidence
    with open(rec, "w") as f:
        json.dump(m2, f)
    with open(rec) as f:
        stored = json.load(f)
    for h in stored["clean_pairs_history"]:
        if h.get("code_fp"):
            h["code_sha"] = "0000000"
    with open(rec, "w") as f:
        json.dump(stored, f)
    m3 = _merge_scaling_history(_fake_result([0.90], [0.95, 0.96]), rec)
    assert m3["n_clean_pairs"] == 3
    assert m3["efficiency_n_to_4n"] == 0.84  # median of [0.80, 0.84, 0.90]
    assert "mix" not in m3["headline_scope"]


def test_measured_bench_hash_ignores_report_logic():
    # the measured slice hashes only the measurement-side functions:
    # editing record/report plumbing must not change it, editing the
    # timed job must
    from bench import _measured_bench_hash

    base = (
        "def _e2e(spark, docs, cfg):\n    return docs\n\n"
        "def _scaled_docs(spark, factor):\n    return factor\n\n"
        "def one_run(master, factor):\n    return _e2e(None, _scaled_docs(None, factor), None)\n\n"
        "def substrate_control(reps=3, procs_pair=(2, 8)):\n    return {'efficiency': 1.0}\n\n"
        "def scaling_protocol(n_docs):\n    return substrate_control()\n\n"
        "def _merge_scaling_history(result, rec_path):\n    return None\n"
    )
    h0 = _measured_bench_hash(base)
    # report-side edit: hash unchanged
    h1 = _measured_bench_hash(
        base.replace("    return None\n", "    return {'new': 'logic'}\n")
    )
    assert h1 == h0
    # job edit: hash changes
    h2 = _measured_bench_hash(
        base.replace("def one_run(master, factor):\n    return",
                     "def one_run(master, factor):\n    x = 1\n    return")
    )
    assert h2 != h0
    # helper pulled in transitively: editing _scaled_docs changes it
    h3 = _measured_bench_hash(
        base.replace("    return factor\n", "    return factor * 2\n")
    )
    assert h3 != h0


def test_measured_fp_resolves_current_tree_through_git():
    import subprocess

    from bench import _code_sha, _measured_fp

    cur = _measured_fp(None)
    assert cur is None or cur.startswith(("mfp-", "dirty-")) or "-" in cur
    # unresolvable sha -> None, never a false match
    assert _measured_fp("0000000000dead") is None
    # with a clean engine tree, the working-tree fp equals HEAD's fp
    porcelain = subprocess.run(
        ["git", "status", "--porcelain", "--", "clann_spark", "bench.py"],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    if not porcelain:
        assert cur == _measured_fp(_code_sha())


def _committed_bench_copy(dst):
    """Copy bench.py and the clann_spark sources into a fresh git repo
    at dst, commit them, and load that bench.py as a separate module.

    The copy's engine tree is clean by construction, so git resolution
    is exercised whatever uncommitted changes the checkout holds."""
    import importlib.util
    import shutil
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(
        os.path.join(root, "clann_spark"), dst / "clann_spark",
        ignore=shutil.ignore_patterns("__pycache__", "*.pyc"),
    )
    shutil.copy(os.path.join(root, "bench.py"), dst / "bench.py")
    git = ["git", "-C", str(dst), "-c", "user.name=t", "-c",
           "user.email=t@example.com", "-c", "commit.gpgsign=false"]
    for args in (["init", "-q"], ["add", "-A"],
                 ["commit", "-q", "--no-verify", "-m", "snapshot"]):
        subprocess.run(git + args, check=True, capture_output=True)
    spec = importlib.util.spec_from_file_location(
        "bench_committed_copy", dst / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    saved_path = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved_path  # bench.py prepends its own directory
    return mod


def test_merge_history_resolves_scope_through_git(tmp_path):
    # an entry recorded under a LATER-superseded git sha whose measured
    # code is identical to the current tree (e.g. only record/report or
    # doc commits in between) counts as current-code evidence, even if
    # its full-file fingerprint label went stale
    import json

    repo = tmp_path / "repo"
    bench = _committed_bench_copy(repo)
    assert bench._measured_fp(None) == bench._measured_fp(bench._code_sha())
    rec = str(tmp_path / "SCALING_RESULT.json")
    with open(rec, "w") as f:
        json.dump(
            {"clean_pairs_history": [
                # same commit as HEAD but a stale code_fp label: the git
                # resolution must still classify it as current
                {"efficiency": 0.90, "code_sha": bench._code_sha(),
                 "code_fp": "fp-stale00000", "recorded_at": "old"},
                # unresolvable sha, mismatched fp -> not current
                {"efficiency": 0.10, "code_sha": "ffffffff",
                 "code_fp": "fp-other00000", "recorded_at": "old"},
            ]},
            f,
        )
    m = bench._merge_scaling_history(_fake_result([0.80], [0.95, 0.96]), rec)
    assert m["n_clean_pairs"] == 2  # 0.90 (resolved current) + 0.80 (new)
    assert m["efficiency_n_to_4n"] == 0.85
    assert "current measured code" in m["headline_scope"]
    assert m["clean_pairs_history"][-1]["measured_fp"]


def test_merge_history_rescope_without_result(tmp_path):
    # result=None recomputes the scope over existing history only:
    # nothing is appended and latest_run is preserved
    import json

    from bench import _merge_scaling_history

    rec = str(tmp_path / "SCALING_RESULT.json")
    with open(rec, "w") as f:
        json.dump(
            {"clean_pairs_history": [
                {"efficiency": 0.70, "recorded_at": "old"},
                {"efficiency": 0.74, "recorded_at": "old"},
            ],
             "latest_run": {"n_docs": 123, "gated": "example"}},
            f,
        )
    m = _merge_scaling_history(None, rec)
    assert m["n_clean_pairs"] == 2
    assert m["efficiency_n_to_4n"] == 0.72
    assert m["latest_run"] == {"n_docs": 123, "gated": "example"}
    # empty record -> nothing to rescope
    assert _merge_scaling_history(None, str(tmp_path / "missing.json")) is None


def test_merge_history_true_median_even_count(tmp_path):
    # ADVICE r4: effs[len//2] was the upper-middle element, not the
    # median, for even-length lists — pin statistics.median semantics
    from bench import _merge_scaling_history

    rec = str(tmp_path / "none.json")
    m = _merge_scaling_history(
        _fake_result([0.60, 0.80], [0.95, 0.96, 0.97]), rec
    )
    assert m["efficiency_n_to_4n"] == 0.70


def test_compact_scaling_fits_one_line():
    import json

    from bench import _compact_scaling

    fat = {
        "efficiency_n_to_4n": 0.728,
        "n_clean_pairs": 5,
        "clean_pair_efficiencies": [0.56, 0.586, 0.607, 0.645, 0.728],
        "headline_scope": "all recorded code versions",
        "recorded_at": "2026-08-18T00:00:00Z",
        "clean_pairs_history": [{"big": "x" * 4000}] * 10,
        "latest_run": {"substrate_control": {"compute": {"t_n": [1] * 50}}},
    }
    slim = _compact_scaling(fat)
    assert "clean_pairs_history" not in slim and "latest_run" not in slim
    # the whole headline line must fit the driver's tail window
    assert len(json.dumps(slim)) < 1000
    assert slim["efficiency_n_to_4n"] == 0.728


def test_control_task_deterministic_and_fixed_work():
    # same seed -> same result (the control times FIXED work; a seed-
    # dependent amount of work would make walls incomparable)
    assert _control_task(("compute", 7)) == _control_task(("compute", 7))
    assert _control_task(("bandwidth", 3)) == _control_task(("bandwidth", 3))
