"""Stage tables with lineage, metrics, and resume-from-checkpoint.

north_rule: "every stage writes per-partition lineage and counters to
Iceberg metadata tables so the pipeline resumes from the last committed
checkpoint." This sandbox has no Iceberg runtime jar, so stage tables
are parquet directories + a JSON lineage sidecar per stage — the same
commit protocol (atomic _SUCCESS marker + metadata row) Iceberg gives
via snapshots; swap StageRunner._committed/_write for catalog calls to
run on a real lakehouse.

Reference parity: index serialize/load (S3/S4 — src/core/index.rs:
511-557 writes config JSON + per-cluster blobs; init_from_file
re-reads them, index.rs:107-162) and the SQLite metrics store (S5 —
result_schema.sql, Run/Query/Cluster granularity) become stage tables
plus a metrics parquet appended per stage.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from clann_spark.config import DedupConfig
from clann_spark.pipeline import _dedup_layers

#: Version of the committed stage layout, folded into every
#: StageRunner fingerprint. Bump it whenever a stage's columns or
#: contents change under an unchanged config, so workdirs committed by
#: older code rebuild instead of resuming into the new layout.
#: 2: buckets carry simhash and candidates are sketch-filtered when the
#: hamming prefilter is on (1 committed unfiltered candidates and
#: filtered them post hoc in the verify stage). Streaming state keeps
#: the plain config fingerprint: its layout did not change.
STAGE_LAYOUT_VERSION = 2


def _config_fingerprint(cfg: DedupConfig) -> str:
    # HASH_IMPL_VERSION invalidates checkpoints / committed signature
    # tables written by an older fast-path hash space: band joins across
    # hash impls would silently yield zero candidates otherwise.
    from clann_spark.functions.hashing import HASH_IMPL_VERSION

    payload = {**asdict(cfg), "_hash_impl": HASH_IMPL_VERSION}
    return hashlib.md5(json.dumps(payload, sort_keys=True).encode()).hexdigest()


class StageRunner:
    """Executes named stages exactly once per (workdir, config, input,
    upstream lineage).

    stage(name, builder, deps=[...]): if the stage directory holds a
    committed _SUCCESS marker AND a lineage row whose fingerprint
    matches md5(config ‖ input identity ‖ each dep's lineage hash),
    the stage is SKIPPED and read back from parquet; otherwise
    builder() runs, the result is written, and lineage + metrics are
    recorded. Because each stage's fingerprint folds in its upstream
    lineage hashes, rebuilding any upstream stage cascades
    invalidation downstream; a byte-stable rebuild (same fingerprint,
    rows and file layout) does NOT cascade. Per-partition lineage =
    one row per output file with its row count (parquet footers).

    input_fingerprint identifies the input data. Callers should pass a
    stable content identity (source path / snapshot id); the
    checkpointed pipeline defaults to the input DataFrame's
    semanticHash — plan identity, computed without a job — which
    distinguishes different sources/transformations but not in-place
    file mutation under the same path.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: DedupConfig,
        run_id: str = "run",
        input_fingerprint: str = "",
    ):
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.run_id = run_id
        self.fingerprint = f"{_config_fingerprint(cfg)}|layout={STAGE_LAYOUT_VERSION}"
        self.input_fingerprint = str(input_fingerprint)
        self.executed: list[str] = []   # stages actually built this run
        self.skipped: list[str] = []    # stages resumed from checkpoint
        os.makedirs(os.path.join(workdir, "_lineage"), exist_ok=True)

    # -- commit protocol -----------------------------------------------------

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _lineage_path(self, name: str) -> str:
        return os.path.join(self.workdir, "_lineage", f"{name}.json")

    def _lineage(self, name: str) -> dict | None:
        lp = self._lineage_path(name)
        if not os.path.exists(lp):
            return None
        try:
            with open(lp) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def _stage_fingerprint(self, name: str, deps: list[str]) -> str | None:
        """config ‖ input ‖ upstream lineage hashes. None if any dep is
        uncommitted (then this stage cannot be trusted either)."""
        parts = [self.fingerprint, self.input_fingerprint]
        for dep in deps:
            li = self._lineage(dep)
            if li is None or "lineage_hash" not in li:
                return None
            parts.append(li["lineage_hash"])
        return hashlib.md5("|".join(parts).encode()).hexdigest()

    @staticmethod
    def _lineage_hash(stage_fp: str, files: list[dict]) -> str:
        """Content-stable output identity: a deterministic rebuild with
        the same fingerprint, row counts and file layout hashes equal,
        so it does not cascade downstream invalidation."""
        key = json.dumps(
            {"fp": stage_fp, "files": [(f["file"], f["rows"], f["bytes"]) for f in files]},
            sort_keys=True,
        )
        return hashlib.md5(key.encode()).hexdigest()

    def _committed(self, name: str, stage_fp: str | None) -> bool:
        d = self._stage_dir(name)
        if stage_fp is None or not os.path.exists(os.path.join(d, "_SUCCESS")):
            return False
        lineage = self._lineage(name)
        return lineage is not None and lineage.get("config_fingerprint") == stage_fp

    def _per_file_rows(self, name: str) -> list[dict]:
        """Per-partition lineage: one entry per committed parquet file."""
        import pyarrow.parquet as pq

        d = self._stage_dir(name)
        out = []
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
                out.append({"file": fn, "rows": md.num_rows, "bytes": os.path.getsize(os.path.join(d, fn))})
        return out

    # -- public API ----------------------------------------------------------

    def stage(
        self,
        name: str,
        builder: Callable[[], DataFrame],
        extra_counters: Callable[[], dict] | None = None,
        deps: list[str] | None = None,
    ) -> DataFrame:
        """extra_counters: called after the write action completes —
        the hook for Observation.get / accumulator totals collected by
        the stage's own job (A7/A8 counters at stage granularity).
        deps: upstream stage names folded into this stage's fingerprint
        so upstream rebuilds cascade invalidation."""
        deps = deps or []
        stage_fp = self._stage_fingerprint(name, deps)
        if self._committed(name, stage_fp):
            self.skipped.append(name)
            return self.spark.read.parquet(self._stage_dir(name))

        t0 = time.time()
        df = builder()
        df.write.mode("overwrite").parquet(self._stage_dir(name))
        wall_ms = int((time.time() - t0) * 1000)
        # the stage is committed; caches the builder registered for its
        # own consumers (e.g. candidate_pairs auto mode persists the
        # grouped bucket table) are dead weight now — release them, or
        # a long-lived session running many checkpointed pipelines
        # accumulates executor storage per call
        from clann_spark.session import unpersist_intermediates

        unpersist_intermediates(df)

        files = self._per_file_rows(name)
        counters = {}
        if extra_counters is not None:
            counters = {k: int(v) for k, v in extra_counters().items()}
        # deps committed before this stage ran, so the fingerprint is
        # now computable even if it wasn't on entry (torn upstream)
        stage_fp = self._stage_fingerprint(name, deps)
        lineage = {
            "run_id": self.run_id,
            "stage": name,
            "config_fingerprint": stage_fp,
            "lineage_hash": self._lineage_hash(stage_fp, files),
            "rows": sum(f["rows"] for f in files),
            "n_files": len(files),
            "wall_ms": wall_ms,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "counters": counters,
            "partitions": files,
        }
        tmp = self._lineage_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, self._lineage_path(name))  # atomic commit
        self.executed.append(name)
        return self.spark.read.parquet(self._stage_dir(name))

    def metrics(self) -> DataFrame:
        """All committed lineage rows as a DataFrame (the reference's
        build_metrics/search_metrics analog), with per-stage counters
        (candidates generated, comparisons, ...) as a map column."""
        rows = []
        ldir = os.path.join(self.workdir, "_lineage")
        for fn in sorted(os.listdir(ldir)):
            if fn.endswith(".json"):
                with open(os.path.join(ldir, fn)) as f:
                    li = json.load(f)
                rows.append(
                    (
                        li["run_id"], li["stage"], li["rows"], li["n_files"],
                        li["wall_ms"], li["committed_at"],
                        {k: int(v) for k, v in li.get("counters", {}).items()},
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "run_id string, stage string, rows long, n_files long, "
            "wall_ms long, committed_at string, counters map<string,long>",
        )


def run_dedup_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupConfig,
    workdir: str,
    pair_mode: str = "auto",
    input_id: str | None = None,
) -> dict:
    """The full dedup pipeline as resumable committed stages: the same
    layer definition run_dedup composes (pipeline._dedup_layers), with
    StageRunner.stage as the hook.

    Stage graph: signatures -> buckets -> candidates -> verified ->
    clusters -> assignments, each fingerprinting its upstream lineage
    so a rebuilt stage cascades. Killing the job between any two stages
    and re-running skips every committed stage (tests/test_resume.py).

    input_id: stable identity of the input data (source path, snapshot
    id). Defaults to the docs plan's semanticHash — distinguishes
    different sources without running a job, but not in-place file
    mutation under the same path.
    """
    base = docs.select("doc_id", "text")
    if input_id is None:
        input_id = f"semhash:{base.semanticHash()}"
    runner = StageRunner(spark, workdir, cfg, input_fingerprint=input_id)
    res = _dedup_layers(base, cfg, pair_mode, runner.stage)
    return {
        "runner": runner,
        "signatures": res.signatures,
        "buckets": res.buckets,
        "candidates": res.candidates,
        "verified": res.verified,
        "clusters": res.clusters,
        "assignments": res.assignments,
        "metrics": runner.metrics(),
    }
