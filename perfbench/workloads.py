"""The benchmark workloads. Each drives the program only through its
public entry points (``pipeline.run_qc``, ``pipeline.run_training_pipeline``,
``streaming.qc_stream.stream_qc``) and, in the traced run, through the
public functions of each layer in the order those entry points call them.

Why each workload exists:

- ``qc_audio``: run_qc over the default synth mix. Audio decode, the Arrow
  boundary (about 75 KB sent per clip), scan and write do almost all the
  work; text scoring is a few percent. A decode-kernel or boundary change
  shows here, and a text-side change must not.
- ``qc_text``: the same run_qc path over short 8 kHz clips with long
  transcripts, so text features, model scoring and the JVM scrub+verdict
  codegen dominate and audio decode is small.
- ``corpus_build``: run_training_pipeline over a qc_text-shaped table with
  planted near-duplicate families. The only workload with shuffles,
  self-joins, tracked caches and the iterative dup_clusters.
- ``qc_stream``: an open loop landing qc_audio files at a fixed rate below
  drain capacity into a stream_qc(available_now=False,
  max_files_per_trigger=1) query, where per-micro-batch fixed cost is a
  large share of every batch.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kneaddata_spark import rules
from kneaddata_spark.functions.audio import audio_features_batch
from kneaddata_spark.functions.text import text_features_batch
from kneaddata_spark.models import train_langid, train_perplexity
from kneaddata_spark.operators.caching import release_tracked
from kneaddata_spark.operators.dedup import (
    _hashed_shingles,
    dedup_exact,
    dup_clusters,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
)
from kneaddata_spark.operators.setops import anti_join_ids
from kneaddata_spark.pipeline import (
    annotate,
    broadcast_models,
    qc_output_select,
    run_qc,
    run_training_pipeline,
)
from kneaddata_spark.session import get_spark
from kneaddata_spark.streaming.qc_stream import stream_qc

from . import checks
from .gen import PoolSpec, select, warmup_dir
from .harness import RssSampler, Tracer, qc_plan_layers, quantile, stop_spark

AUDIO = PoolSpec("audio", chunks=160, chunk_rows=40)
TEXT = PoolSpec("text", chunks=48, chunk_rows=500)
CORPUS = PoolSpec("corpus", chunks=40, chunk_rows=500, near_share=0.25, exact_share=0.004)
KERNEL_SAMPLE_ROWS = 2000
NEAR_DUP_THRESHOLD = 0.7      # run_training_pipeline's default
MINHASH = dict(n=2, num_hashes=64, bands=32)  # minhash_dedup_pairs as that call uses it


@dataclass(frozen=True)
class Workload:
    name: str
    pool: PoolSpec
    chunks: int          # chunks of the pool per run
    smoke_chunks: int
    kind: str            # qc | corpus | stream


WORKLOADS = {
    w.name: w
    for w in (
        Workload("qc_audio", AUDIO, chunks=30, smoke_chunks=3, kind="qc"),
        Workload("qc_text", TEXT, chunks=24, smoke_chunks=1, kind="qc"),
        Workload("corpus_build", CORPUS, chunks=4, smoke_chunks=1, kind="corpus"),
        Workload("qc_stream", AUDIO, chunks=14, smoke_chunks=4, kind="stream"),
    )
}
# Open-loop schedule: one pool chunk (40 clips, one scan task) lands every
# STREAM_INTERVAL_S. A micro-batch takes about 1 s on 4 cores, mostly fixed
# cost, so 1.6 s keeps the query below drain capacity. The first
# STREAM_LEAD_IN files are processed and checked but not timed: a new
# query's first micro-batches pay its lazy set-up, once per query.
STREAM_INTERVAL_S = 1.6
STREAM_LEAD_IN = 2


class Run:
    """One workload run: its input, session, tracer, checks and results."""

    def __init__(self, w: Workload, seed: int, seconds: float, trace: bool, smoke: bool, work: str, cores: int):
        self.w, self.seed, self.seconds, self.smoke = w, seed, seconds, smoke
        self.work, self.cores = work, cores
        self.tr = Tracer(trace)
        self.ck = checks.Checks()
        self.inp = select(w.pool, work, seed, w.smoke_chunks if smoke else w.chunks)
        self.out_root = os.path.join(work, "out", w.name)
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self.bc = None

    def out(self, name: str) -> str:
        return os.path.join(self.out_root, name)

    # ------------------------------------------------------------ set-up --

    def setup(self) -> None:
        """get_spark, broadcast_models and one warm-up pass of the same plan
        over a small fixed slice (boots the Python workers and the JIT)."""
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.start"):
                self.spark = get_spark(app=f"perfbench-{self.w.name}", cores=self.cores)
            tr.bind(self.spark)
            with tr.span("models.broadcast"):
                self.bc = broadcast_models(self.spark)
            with tr.span("udf.warm"):
                warm = warmup_dir(self.w.pool, self.work)
                if self.w.kind == "stream":
                    # two micro-batches of four files: every worker boots and
                    # the per-batch path runs more than once
                    q = stream_qc(
                        self.spark, warm, self.out("warm_out"), self.out("warm_ckpt"), *self.bc, max_files_per_trigger=4
                    )
                    q.awaitTermination()
                else:
                    run_qc(self.spark, self.spark.read.parquet(warm), self.out("warm"), *self.bc)
        self.metrics["setup_s"] = (time.perf_counter() - t0, "s")
        if tr.enabled:
            for name in ("session.start", "models.broadcast", "udf.warm"):
                self.layers[f"{name}_s"] = tr.seconds(name)

    # -------------------------------------------------------------- runs --

    def timed_reps(self, name: str, job, min_reps: int) -> list[float]:
        """Repeat ``job`` until ``seconds`` have passed and it ran at least
        ``min_reps`` times."""
        walls = []
        deadline = time.perf_counter() + self.seconds
        while True:
            t = time.perf_counter()
            try:
                with self.tr.span(name):
                    job()
            except Exception as e:  # a failed job is a counted, reported failure
                self.ck.expect(name, False, f"{type(e).__name__}: {e}")
                raise
            walls.append(time.perf_counter() - t)
            self.ck.expect(name, True)
            if self.smoke or (len(walls) >= min_reps and time.perf_counter() >= deadline):
                return walls

    def record(self, wall: float, rows: int, lat: list[float]) -> None:
        """wall_s, clips_per_s and the latency percentiles over ``lat``
        (timed jobs of a batch workload, files of the stream)."""
        self.metrics["wall_s"] = (wall, "s")
        self.metrics["clips_per_s"] = (rows / wall, "1/s")
        self.metrics["lat_p50_s"] = (median(lat), "s")
        self.metrics["lat_p75_s"] = (quantile(lat, 0.75), "s")
        self.latencies = lat

    def run_qc_workload(self) -> None:
        files = self.inp.files
        res = {}

        def job():
            res["r"] = run_qc(self.spark, self.spark.read.parquet(*files), self.out("qc"), *self.bc)

        # the first full-size job still pays page faults and JIT warm-up the
        # small warm-up slice does not; the median of three skips it
        walls = self.timed_reps("pipeline.run_qc", job, min_reps=3)
        self.record(median(walls), self.inp.shape["rows"], walls)
        out = checks.read_qc(res["r"].out_path)
        self.metrics["keep_f1"] = (checks.check_qc(self.ck, out, self.inp.labels), "ratio")
        # nothing planted, nothing removed as a duplicate
        self.metrics["dedup_f1"] = (checks.f1(set(), set()), "ratio")
        if self.tr.enabled:
            self.trace_qc(res["r"], walls)

    def run_corpus_workload(self) -> None:
        files = self.inp.files
        res = {}

        def job():
            res["r"] = run_training_pipeline(
                self.spark, self.spark.read.parquet(*files), self.out("corpus"), NEAR_DUP_THRESHOLD
            )

        walls = self.timed_reps("pipeline.run_training_pipeline", job, min_reps=1)
        self.record(median(walls), self.inp.shape["rows"], walls)
        qc_out = checks.read_qc(os.path.join(self.out("corpus"), "clips_qc"))
        final = checks.read_table(res["r"]["final_path"], ["clip_id", "transcript"])
        self.metrics["keep_f1"] = (checks.check_qc(self.ck, qc_out, self.inp.labels), "ratio")
        self.metrics["dedup_f1"] = (checks.check_corpus(self.ck, qc_out, final, self.inp.labels), "ratio")
        if self.tr.enabled:
            self.trace_corpus()

    def run_stream_workload(self) -> None:
        """Open loop: land one file every STREAM_INTERVAL_S whatever the
        query does; time each file from when it was due to the commit of
        the micro-batch that read it."""
        d_stage, d_in = self.out("stage"), self.out("in")
        d_out, d_ckpt = self.out("stream"), self.out("ckpt")
        os.makedirs(d_in)
        os.makedirs(d_stage)
        staged = []
        for k, f in enumerate(self.inp.files):
            staged.append(os.path.join(d_stage, f"f{k:04d}.parquet"))
            shutil.copyfile(f, staged[-1])
        n = len(staged)
        rows = self.inp.shape["rows"]
        with self.tr.span("streaming.start"):
            q = stream_qc(
                self.spark, d_in, d_out, d_ckpt, *self.bc, available_now=False, max_files_per_trigger=1
            )
        due, landed = [], []

        def land():
            t0 = time.time() + STREAM_INTERVAL_S
            for k, p in enumerate(staged):
                due.append(t0 + k * STREAM_INTERVAL_S)
                time.sleep(max(0.0, due[k] - time.time()))
                dst = os.path.join(d_in, os.path.basename(p))
                os.replace(p, dst)
                now = time.time()
                os.utime(dst, (now, now))
                landed.append(now)

        loadgen = threading.Thread(target=land, name="loadgen")
        with self.tr.span("streaming.drain"):
            loadgen.start()
            loadgen.join()
            deadline = time.time() + 60
            while time.time() < deadline and q.exception() is None:
                done = sum(int(p["numInputRows"]) for p in _progress(q))
                if done >= rows:
                    break
                time.sleep(0.05)
            err = q.exception()
            q.stop()
        prog = [p for p in _progress(q) if int(p["numInputRows"]) > 0]
        self.ck.expect("streaming.query", err is None, str(err))
        commits = [_commit_time(p) for p in prog]
        for p in prog:
            self.ck.expect("streaming.batch", int(p["numInputRows"]) == rows // n, f"batch {p['batchId']}")
        ok = self.ck.expect("streaming.batches", len(prog) == n, f"{len(prog)} batches for {n} files")
        if not ok:
            raise RuntimeError(self.ck.failures[-1])
        lat = [c - d for c, d in zip(commits, due)][STREAM_LEAD_IN:]
        self.record(commits[-1] - landed[STREAM_LEAD_IN], rows * len(lat) // n, lat)

        out = checks.read_qc(d_out)
        self.metrics["keep_f1"] = (checks.check_qc(self.ck, out, self.inp.labels, "stream"), "ratio")
        self.metrics["dedup_f1"] = (checks.f1(set(), set()), "ratio")
        batch = run_qc(self.spark, self.spark.read.parquet(d_in), self.out("batch"), *self.bc)
        want = checks.status_counts(checks.read_qc(batch.out_path))
        got = checks.status_counts(out)
        self.ck.expect("stream.vs_batch", got == want, f"stream {got} != batch {want}")
        if self.tr.enabled:
            self._qc_counts(batch.metrics)
            self.trace_stream(prog, due, landed, commits, str(q.runId))

    # ----------------------------------------------------------- tracing --

    def trace_qc(self, res, walls) -> None:
        tr, L = self.tr, self.layers
        self._qc_plan_pass()
        L["write.s"] = median(walls) - tr.seconds("pipeline.noop")
        L.update(_write_stats(res.out_path))
        self._stage_layers([tr.group("pipeline.run_qc")], sum(walls))
        self._qc_counts(res.metrics)
        self.kernels()

    def _qc_counts(self, m: dict) -> None:
        L = self.layers
        L["pipeline.rows_in"] = m["n_rows"]
        L["pipeline.kept"] = m["n_kept"]
        L["pipeline.keep_ratio"] = m["n_kept"] / m["n_rows"]
        for r in rules.RULE_ORDER:
            L[f"pipeline.drop.{r}"] = m[f"drop_{r}"]

    def _stage_layers(self, groups: list[str], busy_s: float) -> None:
        """Status-store layers over the jobs of ``groups``; core use is
        executor run time over ``busy_s`` of wall time on every core."""
        st = self.tr.stage_totals(groups)
        L = self.layers
        L["pipeline.core_util"] = st["run_s"] / (busy_s * self.cores)
        L["shuffle.stages"] = st["shuffle_stages"]
        L["shuffle.write_bytes"] = st["shuffle_write_bytes"]
        L["shuffle.read_bytes"] = st["shuffle_read_bytes"]
        L["spill.bytes"] = st["spill_bytes"]

    def kernels(self) -> None:
        """In-process layer kernels on a fixed sample of this run's input,
        one core: the audio decode/trim kernel, text features, lang-ID and
        perplexity scoring."""
        tbl = pq.ParquetFile(self.inp.files[0]).read()
        k = 1
        while tbl.num_rows < KERNEL_SAMPLE_ROWS and k < len(self.inp.files):
            tbl = pa.concat_tables([tbl, pq.read_table(self.inp.files[k])])
            k += 1
        pdf = tbl.slice(0, KERNEL_SAMPLE_ROWS).to_pandas()
        n = len(pdf)
        lm, pm = train_langid(), train_perplexity()
        texts = pdf["transcript"]
        timed = {}
        with self.tr.span("functions.audio"):
            t = time.perf_counter()
            audio_features_batch(pdf["bytes"].to_numpy(), pdf["codec"].to_numpy(), pdf["sr_hz"].to_numpy(), pdf["dur_ms"].to_numpy())
            timed["audio.kernel_ms_per_clip"] = time.perf_counter() - t
        with self.tr.span("functions.text"):
            t = time.perf_counter()
            text_features_batch(texts, lm, pm)
            timed["text.features_ms_per_clip"] = time.perf_counter() - t
        with self.tr.span("models"):
            t = time.perf_counter()
            lm.score_batch(texts.tolist())
            timed["models.langid_ms_per_clip"] = time.perf_counter() - t
            t = time.perf_counter()
            pm.ppl_batch(texts.tolist())
            timed["models.ppl_ms_per_clip"] = time.perf_counter() - t
        for key, s in timed.items():
            self.layers[key] = s * 1e3 / n

    def trace_corpus(self) -> None:
        """run_training_pipeline's stages, called one by one in its order."""
        tr, L, spark = self.tr, self.layers, self.spark
        base = self.out("staged")
        df = spark.read.parquet(*self.inp.files)
        with tr.span("pipeline.run_qc"):
            qc = run_qc(spark, df, base)
        kept = spark.read.parquet(qc.out_path).where(F.col("status") == "kept").drop("status")
        with tr.span("dedup.exact"):
            uniq_path = os.path.join(base, "clips_unique")
            dedup_exact(kept, "clip_id", "transcript").write.mode("overwrite").parquet(uniq_path)
            uniq = spark.read.parquet(uniq_path)
            n_uniq = uniq.count()
        with tr.span("dedup.candidates"):
            sh = _hashed_shingles(uniq, "clip_id", "transcript", MINHASH["n"], "auto", part_col="id")
            sigs = minhash_signatures(sh, MINHASH["num_hashes"], hash_col="h")
            n_cand = minhash_lsh_candidates(sigs, MINHASH["bands"], MINHASH["num_hashes"] // MINHASH["bands"]).count()
        with tr.span("plan.build"):
            near = minhash_dedup_pairs(uniq, "clip_id", "transcript", threshold=NEAR_DUP_THRESHOLD, **MINHASH)
            near._jdf.queryExecution().executedPlan()
        with tr.span("dedup.minhash"):
            near = near.localCheckpoint()
            n_pairs = near.count()
        with tr.span("dedup.clusters"):
            clusters = dup_clusters(near)
            drop_ids = clusters.where(F.col("id") != F.col("cluster_id")).select(F.col("id").alias("clip_id"))
            drop_ids = drop_ids.localCheckpoint()
        with tr.span("setops.anti_join"):
            final = anti_join_ids(uniq, drop_ids, key="clip_id")
            final.write.mode("overwrite").parquet(os.path.join(base, "clips_final"))
        with tr.span("caching.release"):
            L["caching.released"] = release_tracked()
        self._qc_counts(qc.metrics)
        L["dedup.exact_s"] = tr.seconds("dedup.exact")
        L["dedup.exact_removed"] = qc.metrics["n_kept"] - n_uniq
        L["dedup.minhash_s"] = tr.seconds("dedup.minhash")
        L["dedup.candidates"] = n_cand
        L["dedup.pairs"] = n_pairs
        L["dedup.verify_yield"] = n_pairs / n_cand if n_cand else 0.0
        L["dedup.clusters_s"] = tr.seconds("dedup.clusters")
        L["setops.anti_join_s"] = tr.seconds("setops.anti_join")
        spans = ["pipeline.run_qc", "dedup.exact", "dedup.candidates", "dedup.minhash", "dedup.clusters", "setops.anti_join"]
        self._stage_layers([tr.group(s) for s in spans], sum(tr.seconds(s) for s in spans))
        self._qc_plan_pass()
        L["write.s"] = tr.seconds("pipeline.run_qc") - tr.seconds("pipeline.noop")
        L.update(_write_stats(qc.out_path))
        self.kernels()

    def _qc_plan_pass(self) -> None:
        """Build the QC plan over this run's input (annotate ->
        qc_output_select, then its executed plan), run that very plan with
        no sink, and read its scan, Python UDF and codegen metrics. The
        write is all that separates it from run_qc."""
        tr = self.tr
        with tr.span("plan.build"):
            df = self.spark.read.parquet(*self.inp.files)
            qe = qc_output_select(annotate(df, *self.bc))._jdf.queryExecution()
            qe.executedPlan()
        with tr.span("pipeline.noop"):
            qe.toRdd().count()
        t0 = time.perf_counter()
        self.layers.update(qc_plan_layers(qe))
        tr.overhead_s += time.perf_counter() - t0
        # the QC builder, plus the dedup builder on corpus_build
        self.layers["plan.build_s"] = tr.seconds("plan.build")

    def trace_stream(self, prog, due, landed, commits, run_id: str) -> None:
        L = self.layers
        # the stream's jobs run under its own job group, the query run id
        self._stage_layers([run_id], self.tr.seconds("streaming.drain"))
        dur = {k: [p["durationMs"].get(k, 0) / 1e3 for p in prog] for k in ("triggerExecution", "addBatch", "queryPlanning", "commitOffsets")}
        L["streaming.batches"] = len(prog)
        L["streaming.trigger_s_p50"] = median(dur["triggerExecution"])
        L["streaming.add_batch_s_p50"] = median(dur["addBatch"])
        L["streaming.planning_s_p50"] = median(dur["queryPlanning"])
        L["streaming.commit_s_p50"] = median(dur["commitOffsets"])
        # files landed but not yet committed, seen at each landing
        L["streaming.backlog_max"] = max(j + 1 - sum(c <= t for c in commits) for j, t in enumerate(landed))
        L["loadgen.late_max_s"] = max(a - d for a, d in zip(landed, due))
        self._qc_plan_pass()
        self.kernels()

    # -------------------------------------------------------------- main --

    def execute(self) -> None:
        with RssSampler() as rss:
            try:
                self.setup()
                {"qc": self.run_qc_workload, "corpus": self.run_corpus_workload, "stream": self.run_stream_workload}[
                    self.w.kind
                ]()
            finally:
                if self.spark is not None:
                    stop_spark(self.spark)
        self.metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
        if self.tr.enabled:
            self.layers["trace.overhead_s"] = self.tr.overhead_s


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _commit_time(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + trigger duration."""
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return ts.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def _write_stats(path: str) -> dict:
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    return {"write.bytes": sum(os.path.getsize(f) for f in files), "write.files": len(files)}
