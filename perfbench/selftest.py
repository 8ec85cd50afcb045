#!/usr/bin/env python3
"""Self-test of the benchmark on tiny fixed-seed inputs.

    python3 perfbench/selftest.py

Runs every workload through run.py's untraced and traced measuring
code (set-up, warm-up, one op with its output check; the traced dedup
op includes the drift guard) in one Spark session. Asserts that every
check passes, that the emitted metric names are exactly BENCHMARK.json's,
and that the traced layers cover the traced op; then feeds the checks
wrong answers to show they can fail. Exits 0 when everything holds.
Takes about three minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def check_generators(gen) -> None:
    def heavy(seed):
        return gen.dupheavy_corpus(seed, 600, giant=80, tail=1)

    a, b = heavy(SEED), heavy(SEED)
    assert a.text == b.text and a.planted == b.planted, "generator is not a function of the seed"
    assert heavy(SEED + 1).text != a.text, "seed does not change the input"
    assert len(a.doc_id) == 600 == len(set(a.doc_id.tolist()))
    assert len(a.planted) >= 300, "dupheavy must plant at least half its docs"
    s1, s2 = gen.stream_input(SEED, 50, 2, 20), gen.stream_input(SEED, 50, 2, 20)
    assert s1.batches == s2.batches and s1.dup_of == s2.dup_of


def check_checks(checks) -> None:
    import numpy as np

    texts = {1: "a b c d e f g h", 2: "a b c d e f g x", 3: "p q r s t u v w"}
    sh = checks.ShingleCache(texts, 5)
    assert checks.pairs_clear_tau(sh, np.array([1]), np.array([2]), 0.5)
    assert not checks.pairs_clear_tau(sh, np.array([1]), np.array([3]), 0.5)
    a, b = np.array([1, 2, 5]), np.array([2, 3, 6])
    assert checks.clusters_match_pairs([1, 2, 3, 5, 6], [1, 1, 1, 5, 5], a, b)
    assert not checks.clusters_match_pairs([1, 2, 3, 5, 6], [1, 1, 3, 5, 5], a, b)
    row = {"n_docs": 10, "n_clusters": 7, "n_removed": 3}
    assert checks.summary_consistent(row, 10, [1, 1, 1, 5, 5])
    assert not checks.summary_consistent({**row, "n_docs": 9}, 10, [1, 1, 1, 5, 5])
    assert checks.cluster_recall([(2, 1), (6, 5)], {1: 1, 2: 1, 5: 5}) == 0.5


def run_workload(make, ctx, W, run, traced_layers: tuple[str, ...]) -> None:
    """One untraced and one traced pass through run.py's measuring code
    (one timed op each), on fresh workload objects from `make`."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace in (False, True):
        wl = make()
        wl.generate(SEED)
        wl.attach(ctx, wl.materialize(ctx))
        tracer = W.Tracer(ctx) if trace else None
        name = f"{type(wl).__name__}(trace={trace})"
        assert wl.warmup(tracer), f"{name}: warm-up op failed its check"
        if trace:
            metrics, r = run.traced(wl, ctx, 0, tracer)
            want = {m["name"] for m in spec["per_layer"]}
        else:
            metrics, r = run.end_to_end(wl, ctx, 0)
            want = {m["name"] for m in spec["end_to_end"]} - {"setup_s"}
        assert r["failed"] == 0 and r["ops"] == 1, f"{name}: op failed its check: {r}"
        assert set(metrics) == want, f"{name}: metric names {sorted(set(metrics) ^ want)}"
        if trace:
            for layer in traced_layers:
                assert metrics[f"{layer}.wall_s"][0] > 0, f"layer {layer} not traced"
                assert metrics[f"{layer}.jobs"][0] > 0, f"layer {layer} has no jobs"
            assert metrics["trace.layer_share"][0] >= 0.9, metrics["trace.layer_share"]
        else:
            assert all(v > 0 for v, _ in metrics.values()), metrics
            assert metrics["recall"][0] == 1.0, f"{name}: recall {metrics['recall']}"


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import run

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    host = run.host_settings(work)
    try:
        import checks
        import gen
        import workloads as W

        check_generators(gen)
        check_checks(checks)
        spark = run.start_spark(host["cores"], work)
        try:
            ctx = W.Ctx(spark, host["cores"], work)

            def heavy():
                return W.Dedup(lambda s: gen.dupheavy_corpus(s, 600, giant=80, tail=1))

            dedup = ("signatures", "candidates", "verify", "cc", "summary")
            run_workload(heavy, ctx, W, run, dedup)
            # an op whose answer differs from the checked one must fail
            wl = heavy()
            wl.generate(SEED)
            wl.attach(ctx, wl.materialize(ctx))
            wl.ref = ("0", "0")
            assert not wl.op()[1], "check accepted a wrong answer"

            def stream():
                return W.Stream(n_corpus=200, n_batches=W.WARMUP_OPS + 2, batch_docs=20)

            run_workload(stream, ctx, W, run, ("stream.bootstrap", "stream.batch"))
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
