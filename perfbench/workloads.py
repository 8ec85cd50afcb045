"""The workloads: generated inputs, the timed op, the per-op output
check and the traced (per-layer) op.

An op is one unit of user-visible work, run by a single closed-loop
client (the next op starts when the previous one returned):

* dedup_dupheavy: one full dedup job, input DataFrame to
  collected `dedup_summary` (production `fast` config, auto pair mode,
  exactly what `run_dedup` ships);
* stream_ingest: one micro-batch file arriving in the stream's input
  directory until it is processed and committed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import gen
from probe import StageStats, group_jobs

from clann_spark.config import DedupConfig

#: the production configuration bench.py's e2e_dedup headline runs
CFG = DedupConfig(signature_impl="fast")
TOP_K = 5
#: untimed ops after set-up: the first pays codegen, Python-worker start
#: and the C1 JIT warm-up (run.py); op times are flat after it
WARMUP_OPS = 1


@dataclass
class Ctx:
    spark: object
    cores: int
    work: str  # scratch directory inside the checkout


@dataclass
class Layer:
    name: str
    wall_s: float
    jobs: str | list[int]  # a job group, or the job ids themselves
    rows_out: int


@dataclass
class Tracer:
    """Spans around calls into each layer's public function. Each span
    runs its Spark jobs under its own job group, so the status store
    can attribute stages to it afterwards."""

    ctx: Ctx
    spans: list[Layer] = field(default_factory=list)
    _n: int = 0

    @contextmanager
    def layer(self, name: str):
        sc = self.ctx.spark.sparkContext
        self._n += 1
        group = f"pb-{name}-{self._n}"
        sc.setJobGroup(group, name)
        out = {"rows": 0}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            wall = time.perf_counter() - t0
            sc.setJobGroup("pb-untraced", "untraced")
            self.spans.append(Layer(name, wall, group, int(out["rows"])))

    def metrics(self) -> dict:
        """Per-layer metrics: the median over this run's spans of each
        layer (one span per layer per traced op)."""
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            jobs = group_jobs(self.ctx.spark, s.jobs) if isinstance(s.jobs, str) else s.jobs
            st = StageStats(self.ctx.spark, jobs)
            by_name.setdefault(s.name, []).append(
                st.layer_metrics(s.name, s.wall_s, self.ctx.cores, s.rows_out)
            )
        return median_metrics(by_name.values())


def median_metrics(groups) -> dict:
    out = {}
    for runs in groups:
        for key, (_, unit) in runs[0].items():
            out[key] = (statistics.median(r[key][0] for r in runs), unit)
    return out


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def cached_docs(ctx: Ctx, corpus: gen.Corpus):
    """The corpus as a cached (doc_id, text) DataFrame. Serialized
    storage: its held size is then exact bytes, not the sampled size
    estimate of deserialized blocks, so held_storage_mb repeats."""
    from pyspark import StorageLevel

    df = ctx.spark.createDataFrame(corpus.pandas(), "doc_id long, text string")
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


# --------------------------------------------------------------------------
# dedup_dupheavy
# --------------------------------------------------------------------------


class Dedup:
    alternate = True  # traced runs interleave untraced ops

    def __init__(self, make_corpus):
        self.make_corpus = make_corpus
        self.ref = None  # (pairs digest, clusters digest) of a checked op
        self.recall = 0.0

    def generate(self, seed: int) -> None:
        self.corpus = self.make_corpus(seed)
        self.n = len(self.corpus.doc_id)
        self.shingles = checks.ShingleCache(self.corpus.texts(), CFG.shingle_k)

    def materialize(self, ctx: Ctx):
        return cached_docs(ctx, self.corpus)

    def attach(self, ctx: Ctx, inputs) -> None:
        self.ctx, self.docs = ctx, inputs

    def warmup(self, tracer: Tracer | None = None) -> bool:
        return all([self.op()[1] for _ in range(WARMUP_OPS)])

    def op(self) -> tuple[int, bool, float]:
        """(items, ok, wall_s): one timed dedup job plus its check."""
        from clann_spark.pipeline import dedup_summary, run_dedup

        set_group(self.ctx.spark, "pb-timed")
        t0 = time.perf_counter()
        res = run_dedup(self.docs, CFG, pair_mode="auto")
        row = dedup_summary(res).collect()[0]
        wall = time.perf_counter() - t0
        set_group(self.ctx.spark, "pb-check")
        return self.n, self.check(res, row), wall

    def check(self, res, row) -> bool:
        v = res.verified.select("a", "b").toPandas()
        c = res.clusters.toPandas()
        res.unpersist()
        got = (checks.digest(v.a, v.b), checks.digest(c.doc_id, c.cluster_id))
        if not checks.summary_consistent(row, self.n, c.cluster_id):
            return False
        if self.ref is not None:
            return got == self.ref
        ok = checks.pairs_clear_tau(
            self.shingles, v.a.values, v.b.values, CFG.tau
        ) and checks.clusters_match_pairs(c.doc_id, c.cluster_id, v.a.values, v.b.values)
        if ok:
            self.ref = got
            self.recall = checks.cluster_recall(
                self.corpus.planted, dict(zip(c.doc_id.tolist(), c.cluster_id.tolist()))
            )
        return ok

    def timed_jobs(self) -> list[int]:
        return group_jobs(self.ctx.spark, "pb-timed")

    def release(self) -> None:
        pass

    def traced_op(self, tracer: Tracer) -> tuple[int, bool, float, dict]:
        """The run_dedup layer chain, called layer by layer with a
        persist+count barrier after each, then the drift guard against
        one untraced run_dedup on the same input. Returns (items, ok,
        traced wall, extra metrics)."""
        from pyspark.sql import functions as F

        from clann_spark.operators.candidates import candidate_pairs
        from clann_spark.operators.connected_components import connected_components
        from clann_spark.operators.signatures import compute_signatures, explode_bands
        from clann_spark.operators.verify import verify_pairs_from_text
        from clann_spark.pipeline import DedupResult, dedup_summary
        from clann_spark.session import unpersist_intermediates

        thr = CFG.hamming_threshold
        base = self.docs.select("doc_id", "text")
        t0 = time.perf_counter()
        with tracer.layer("signatures") as out:
            sigs = compute_signatures(
                base, CFG, include_shingles=False, include_sig=False, drop_text=True
            )
            buckets = explode_bands(sigs, CFG, extra_cols=("simhash",)).persist()
            out["rows"] = buckets.count()
        with tracer.layer("candidates") as out:
            cands = candidate_pairs(
                buckets, CFG, mode="auto", sketch_col="simhash", hamming_threshold=thr
            ).persist()
            out["rows"] = n_cands = cands.count()
        with tracer.layer("verify") as out:
            verified = verify_pairs_from_text(cands, base, CFG).persist()
            out["rows"] = n_verified = verified.count()
        with tracer.layer("cc") as out:
            clusters = connected_components(verified).persist()
            out["rows"] = n_clusters = clusters.count()
        with tracer.layer("summary") as out:
            assignments = base.select("doc_id").join(clusters, "doc_id", "left").select(
                "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
            )
            row = dedup_summary(
                DedupResult(sigs, buckets, cands, verified, clusters, assignments, base)
            ).collect()[0]
            out["rows"] = 1
        wall = time.perf_counter() - t0
        spans = tracer.spans[-5:]

        set_group(self.ctx.spark, "pb-check")
        cand_docs = (
            cands.select(F.col("a").alias("d")).union(cands.select(F.col("b").alias("d")))
        ).distinct().count()
        extra = {
            "candidates.useful_ratio": (n_verified / n_cands if n_cands else 1.0, "ratio"),
            "verify.rehash_ratio": (cand_docs / self.n, "ratio"),
            "cc.driver_path": (0.0 if hasattr(clusters, "_clann_cc_stats") else 1.0, "bool"),
            "trace.layer_share": (sum(s.wall_s for s in spans) / wall, "ratio"),
        }
        unpersist_intermediates(cands)
        unpersist_intermediates(verified)
        for df in (clusters, verified, cands, buckets):
            df.unpersist(blocking=True)
        # after the release: a cached traced stage would otherwise serve
        # the guard's semantically equal plans
        ok = row["n_docs"] == self.n and self._guard(n_cands, n_verified, n_clusters)
        return self.n, ok, wall, extra

    def _guard(self, n_cands: int, n_verified: int, n_clusters: int) -> bool:
        """Drift guard: the traced chain must be the one run_dedup ships
        (fused sketch filter in pair generation, no post-hoc simhash
        prefilter join) and give the same pair and cluster counts."""
        from clann_spark.pipeline import run_dedup

        res = run_dedup(self.docs, CFG, pair_mode="auto")
        cand_plan = res.candidates._jdf.queryExecution().optimizedPlan().toString()
        ver_plan = res.verified._jdf.queryExecution().optimizedPlan().toString()
        same = (
            res.candidates.count() == n_cands
            and res.verified.count() == n_verified
            and res.clusters.count() == n_clusters
        )
        res.unpersist()
        return same and "bit_count" in cand_plan and "sim_a" not in ver_plan


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------


class Stream:
    # the stream's batches are not re-runnable, so no untraced twin; its
    # trace only reads the stream's own progress and adds no Spark calls
    alternate = False

    def __init__(self, n_corpus: int, n_batches: int, batch_docs: int):
        self.sizes = (n_corpus, n_batches, batch_docs)
        self.found = self.planted = 0
        self.fed = 0
        self.progress: list[dict] = []

    def generate(self, seed: int) -> None:
        self.data = gen.stream_input(seed, *self.sizes)
        self.texts = self.data.corpus.texts()
        for b in self.data.batches:
            self.texts.update(b)
        self.shingles = checks.ShingleCache(self.texts, CFG.shingle_k)

    def materialize(self, ctx: Ctx):
        return cached_docs(ctx, self.data.corpus)

    def attach(self, ctx: Ctx, inputs) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ctx, self.corpus_docs = ctx, inputs
        root = os.path.join(ctx.work, "stream")
        shutil.rmtree(root, ignore_errors=True)
        self.dirs = {k: os.path.join(root, k) for k in ("staged", "in", "out", "ckpt", "state")}
        os.makedirs(self.dirs["staged"])
        os.makedirs(self.dirs["in"])
        for i, rows in enumerate(self.data.batches):
            ids, texts = zip(*rows)
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
                os.path.join(self.dirs["staged"], f"part-{i:05d}.parquet"),
            )

    def start(self, tracer: Tracer | None = None) -> None:
        """Signature the committed corpus and start the stream (the
        bootstrap writes the committed bucket table)."""
        from clann_spark.operators.signatures import compute_signatures
        from clann_spark.streaming.incremental import stream_dedup_query

        d = self.dirs
        layer = tracer.layer("stream.bootstrap") if tracer else _null_layer()
        with layer as out:
            self.corpus_sigs = (
                compute_signatures(self.corpus_docs, CFG, include_shingles=False)
                .select("doc_id", "bands")
                .persist()
            )
            out["rows"] = self.corpus_sigs.count()
            self.q = stream_dedup_query(
                self.ctx.spark, d["in"], self.corpus_sigs, self.corpus_docs, CFG,
                d["out"], d["ckpt"], k=TOP_K, available_now=False,
                state_dir=d["state"], max_files_per_trigger=1,
            )

    def warmup(self, tracer: Tracer | None = None) -> bool:
        self.start(tracer)
        return all([self.op()[1] for _ in range(WARMUP_OPS)])

    def traced_op(self, tracer: Tracer) -> tuple[int, bool, float, dict]:
        """One micro-batch; its span is the trigger as the stream's own
        progress reports it, with the stream's jobs of that batch."""
        before = set(self.stream_jobs())
        n, ok, wall = self.op()
        p = self.progress[-1]
        trigger_s = p["triggerExecution"] / 1000.0
        jobs = sorted(set(self.stream_jobs()) - before)
        tracer.spans.append(Layer("stream.batch", trigger_s, jobs, self.last_rows))
        extra = {
            "stream.commit_share": (1.0 - p.get("addBatch", 0) / p["triggerExecution"], "ratio"),
            "trace.layer_share": (trigger_s / wall, "ratio"),
        }
        return n, ok, wall, extra

    def op(self) -> tuple[int, bool, float]:
        """Deliver the next staged batch file and wait until the stream
        has processed and committed it."""
        i = self.fed
        if i >= len(self.data.batches):
            raise RuntimeError("staged micro-batches exhausted; raise n_batches")
        name = f"part-{i:05d}.parquet"
        t0 = time.perf_counter()
        os.rename(os.path.join(self.dirs["staged"], name), os.path.join(self.dirs["in"], name))
        self.q.processAllAvailable()
        wall = time.perf_counter() - t0
        self.fed += 1
        batch_ids = [
            p for p in self.q.recentProgress
            if p.numInputRows > 0 and p.batchId not in {x["batchId"] for x in self.progress}
        ]
        self.progress.extend(
            {"batchId": p.batchId, **p.durationMs} for p in batch_ids
        )
        if len(batch_ids) != 1:
            return len(self.data.batches[i]), False, wall
        return len(self.data.batches[i]), self.check(i, batch_ids[0].batchId), wall

    def check(self, i: int, batch_id: int) -> bool:
        """Matches at or above tau are true near-duplicates (driver-side
        shingle Jaccard), and each planted duplicate's match is found."""
        import pyarrow.parquet as pq

        path = os.path.join(self.dirs["out"], f"batch={batch_id}")
        m = pq.read_table(path, columns=["query_id", "doc_id", "jaccard"]).to_pandas()
        self.last_rows = len(m)
        hits = m[m.jaccard >= CFG.tau]
        if not checks.pairs_clear_tau(self.shingles, hits.query_id.values, hits.doc_id.values, CFG.tau):
            return False
        got = set(zip(hits.query_id.tolist(), hits.doc_id.tolist()))
        want = [(d, self.data.dup_of[d]) for d, _ in self.data.batches[i] if d in self.data.dup_of]
        self.planted += len(want)
        self.found += sum(p in got for p in want)
        return True

    @property
    def recall(self) -> float:
        return self.found / self.planted if self.planted else 1.0

    def stream_jobs(self) -> list[int]:
        return group_jobs(self.ctx.spark, str(self.q.runId))

    timed_jobs = stream_jobs

    def release(self) -> None:
        self.q.stop()
        self.corpus_sigs.unpersist()


@contextmanager
def _null_layer():
    yield {"rows": 0}


def _dupheavy(seed):
    return gen.dupheavy_corpus(seed, n_docs=DUPHEAVY_DOCS, giant=DUPHEAVY_GIANT, tail=3)


DUPHEAVY_DOCS = 4_000
DUPHEAVY_GIANT = 1_000

WORKLOADS = {
    "dedup_dupheavy": lambda: Dedup(_dupheavy),
    "stream_ingest": lambda: Stream(n_corpus=3_000, n_batches=40, batch_docs=100),
}
