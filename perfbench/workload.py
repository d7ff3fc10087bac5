"""The timed steps of one benchmark pass, against the engine's public API.

One pass over a workload's inputs runs, in this order and closed loop
(one client, each call waits for the previous one):

  build           pipeline.run_engine into a fresh base dir (digest + pack)
  resume          pipeline.run_engine(verify_resume=True) on that tree
  gapfill_view    gapfill.gap_fill_tier over the whole stored 1m tier, to a
                  noop sink, with an Observation counting its rows
  position_stats  tokens.position_stats over the raw token payload, collected
  registry        one pass over the workload's half of REGISTRY
  serve           cycles of one late batch (pipeline.refresh_engine) and
                  READ_ROUNDS rounds of the five serve reads, for the
                  run's --seconds (at least MIN_BATCHES cycles; a cycle
                  started before the time is up is finished). A cycle
                  takes longer than 5 s, so at ``--seconds 5`` a pass
                  makes one refresh and 15 reads.

The pass starts in a session whose warm-up only spawned the Python
workers: like a run of run_job.py, each step pays its own first-run costs
(code generation, class loading) in the JVM.

With a tracer, every call is wrapped in a span; without one the same code
runs with no-op spans.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from tods_spark import pipeline
from tods_spark.functions.sketches import digest_quantile
from tods_spark.operators import (
    compression,
    downsample,
    gapfill,
    segmentation,
    tokens,
    windows,
)
from tods_spark.operators.rollup import AGG_COLS, rollup_cascade
from tods_spark.queries import QUERIES

from inputs import TokenInputs

READ_ROUNDS = 3
MIN_BATCHES = 1
SOURCES = ("web", "code", "books", "wiki", "chat")
SERVE_OPS = ("day_quantiles", "gapfill_ma", "segments_1h", "unpack_day",
             "m4_1m")

# the list bench.py times, owned here so that tool can change or go away.
# One pass over all of it does not fit a run's time budget next to the
# engine steps, so each workload times about half: event-stream and
# star-schema aggregates on build_dense; the as-of joins and the document
# and embedding queries on build_sparse.
REGISTRY = {
    "build_dense": (
        "rollup_1m", "rollup_1d_cascade", "stat_mean_w5", "moving_average_w3",
        "gap_fill_linear", "dedup_minute_avg", "denormalize_revenue",
        "q1_pricing_summary", "m4_downsample_6h", "sessionize_30m",
        "counter_increase_6h", "value_histogram_1d",
    ),
    "build_sparse": (
        "asof_enrich_1h", "asof_enrich_user_1h", "dedup_exact_groups",
        "ann_cosine_top5", "doc_quality", "minhash_lsh_candidates",
        "minhash_lsh_candidates_xxh64", "dup_spans_3g",
        "neardup_clusters_xxh64",
    ),
}
ALL_QUERIES = REGISTRY["build_dense"] + REGISTRY["build_sparse"]


def _minhash_xxh64(spark, sf_dir):
    """Engine-native MinHash LSH (xxhash64 base hash), 16 perms / 8 bands."""
    from tods_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_candidates(docs, k=16, bands=8)


def _neardup_xxh64(spark, sf_dir):
    """Near-dup clusters over the xxhash64 MinHash path; the call itself
    runs the connected-components rounds."""
    from tods_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.neardup_clusters(docs, k=16, bands=8, hash_fn="xxhash64")


ENGINE_NATIVE = {"minhash_lsh_candidates_xxh64": _minhash_xxh64,
                 "neardup_clusters_xxh64": _neardup_xxh64}


def registry_fn(name: str):
    return ENGINE_NATIVE.get(name) or QUERIES[name]


@dataclass
class Read:
    op: str
    source: str
    day: str
    build_ms: float
    exec_ms: float
    out: object

    @property
    def ms(self) -> float:
        return self.build_ms + self.exec_ms


@dataclass
class PassResult:
    base: str
    build_s: float = 0.0
    points: int = 0
    build_report: dict = field(default_factory=dict)
    stored_bytes: int = 0         # tier data files right after the build
    stored_points: int = 0        # rollup points those files hold
    resume_s: float = 0.0
    resume_report: dict = field(default_factory=dict)
    gapfill_view_s: float = 0.0
    gapfill_obs: dict = field(default_factory=dict)
    position_stats_s: float = 0.0
    position_stats_out: object = None
    refresh_s: list[float] = field(default_factory=list)
    refreshed: list[int] = field(default_factory=list)   # late batch index
    reads: list[Read] = field(default_factory=list)
    queries: tuple = ()
    registry: dict = field(default_factory=dict)  # name -> (build_s, exec_s, pdf)
    suite_s: float = 0.0
    total_s: float = 0.0
    errors: list[str] = field(default_factory=list)


def median_or_zero(xs) -> float:
    """Median of the samples; 0 when a failed step left none."""
    return statistics.median(xs) if xs else 0.0


def stored_bytes(base: str) -> int:
    """Bytes of the data files of the tier and packed tables under ``base``."""
    total = 0
    for t in ("tier_1m", "tier_1h", "tier_1d", "tier_1m_gorilla"):
        for d, _, files in os.walk(os.path.join(base, t)):
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in files if f.endswith(".parquet"))
    return total


def stored_points(base: str) -> int:
    """Rollup points (rows × aggregates) in the 1m, 1h and 1d tier files
    under ``base``, from the parquet footers: what the tiers hold after
    retention, not what the build computed."""
    rows = 0
    for t in ("tier_1m", "tier_1h", "tier_1d"):
        for d, _, files in os.walk(os.path.join(base, t)):
            rows += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                        for f in files if f.endswith(".parquet"))
    return rows * len(AGG_COLS)


class Pass:
    """One pass; ``tracer`` is a spans.Tracer or None."""

    def __init__(self, spark, tok: TokenInputs, reg_dir: str, queries,
                 base: str, seconds: float, seed: int, tracer=None):
        self.spark = spark
        self.tok = tok
        self.reg_dir = reg_dir
        self.queries = queries
        self.seconds = seconds
        self.rng = np.random.default_rng([seed, 3])
        self.tracer = tracer
        self.res = PassResult(base, queries=tuple(queries))

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def step(self, name: str, fn):
        """Run one timed step in a span; an exception counts as a failed
        operation and the pass goes on."""
        t0 = time.perf_counter()
        try:
            with self.span(f"step.{name}"):
                fn()
        except Exception as e:  # noqa: BLE001 - one failed step must not end the run
            self.res.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
        return time.perf_counter() - t0

    # -- steps --------------------------------------------------------------

    def run_engine(self, verify_resume: bool) -> dict:
        raw = self.spark.read.parquet(self.tok.raw_path)
        with self.span("pipeline.run_engine"):
            return pipeline.run_engine(
                self.spark, raw, self.res.base, job_id="build",
                now=self.tok.now, verify_resume=verify_resume,
            )

    def build(self) -> None:
        rep = self.run_engine(False)
        self.res.build_report = rep
        self.res.points = sum(rep[t]["rows_out"] for t in ("1m", "1h", "1d")) \
            * len(AGG_COLS)

    def resume(self) -> None:
        self.res.resume_report = self.run_engine(True)

    def gapfill_view(self) -> None:
        t1m = self.spark.read.parquet(f"{self.res.base}/tier_1m")
        obs = Observation("gapfill_view")
        with self.span("gapfill.view"):
            view = gapfill.gap_fill_tier(t1m.drop("part_key"), 60).observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("is_gap").cast("long")).alias("gaps"),
                F.sum("cnt").alias("cnt"))
            view.write.format("noop").mode("overwrite").save()
        self.res.gapfill_obs = obs.get

    def position_stats(self) -> None:
        raw = self.spark.read.parquet(self.tok.raw_path)
        with self.span("tokens.position_stats"):
            self.res.position_stats_out = tokens.position_stats(raw).toPandas()

    def serve_df(self, op: str, source: str, day: str):
        """The DataFrame of one serve read (construction only)."""
        base = self.res.base
        read = self.spark.read.parquet

        def tier(name):
            return read(f"{base}/{name}").filter(F.col("part_key") == day)

        if op == "day_quantiles":
            t1h = tier("tier_1h").filter(F.col("source") == source)
            return rollup_cascade(t1h.drop("part_key"), "1h", "1d")
        if op == "gapfill_ma":
            t1m = tier("tier_1m").filter(F.col("source") == source)
            filled = gapfill.gap_fill_tier(t1m.drop("part_key"), 60)
            return windows.moving_average(filled, ["avg_n_tok"],
                                          keys=["source"],
                                          order_col="window_start")
        if op == "segments_1h":
            return segmentation.segment_sql(
                tier("tier_1h").drop("part_key"), ["avg_n_tok"], 4,
                keys=["source"], order_col="window_start")
        if op == "unpack_day":
            packed = tier("tier_1m_gorilla").filter(F.col("source") == source)
            return compression.unpack_tier(packed.drop("part_key"))
        if op == "m4_1m":
            return downsample.m4_downsample(
                tier("tier_1m").drop("part_key"), bucket="1 hour",
                ts_col="window_start", value_col="avg_n_tok",
                keys=("source",), tie_col=None)
        raise ValueError(op)

    def read(self, op: str, source: str, day: str) -> None:
        with self.span(f"serve.{op}"):
            t0 = time.perf_counter()
            with self.span(f"serve.{op}.build"):
                df = self.serve_df(op, source, day)
            t1 = time.perf_counter()
            with self.span(f"serve.{op}.exec"):
                out = df.toPandas()
                if op == "day_quantiles":
                    out["p50"] = [digest_quantile(d, 0.5) for d in out["qdigest"]]
            t2 = time.perf_counter()
        self.res.reads.append(Read(op, source, day, (t1 - t0) * 1e3,
                                   (t2 - t1) * 1e3, out))

    def pick_day(self) -> str:
        days = self.tok.stored_days
        w = 0.7 ** np.arange(len(days))[::-1]
        return str(self.rng.choice(days, p=w / w.sum()))

    def serve(self) -> None:
        t_end = time.perf_counter() + self.seconds
        for b in itertools.count():
            if b >= MIN_BATCHES and time.perf_counter() >= t_end:
                break
            late = self.spark.read.parquet(self.tok.late(b))
            t0 = time.perf_counter()
            with self.span("pipeline.refresh_engine"):
                pipeline.refresh_engine(self.spark, late, self.res.base,
                                        job_id=f"late{b}")
            self.res.refresh_s.append(time.perf_counter() - t0)
            self.res.refreshed.append(b)
            for _ in range(READ_ROUNDS):
                source = str(self.rng.choice(SOURCES))
                day = self.pick_day()
                for op in SERVE_OPS:
                    self.read(op, source, day)

    def registry(self) -> None:
        t_pass = time.perf_counter()
        for name in self.queries:
            try:
                with self.span(f"queries.{name}"):
                    t0 = time.perf_counter()
                    with self.span(f"queries.{name}.build"):
                        df = registry_fn(name)(self.spark, self.reg_dir)
                    t1 = time.perf_counter()
                    with self.span(f"queries.{name}.exec"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - counted, the pass goes on
                self.res.errors.append(f"queries.{name}: {e}"[:500])
                continue
            self.res.registry[name] = (t1 - t0, t2 - t1, pdf)
        self.res.suite_s = time.perf_counter() - t_pass

    def run(self) -> PassResult:
        r = self.res
        t0 = time.perf_counter()
        r.build_s = self.step("build", self.build)
        r.stored_bytes = stored_bytes(r.base)
        r.stored_points = stored_points(r.base)
        r.resume_s = self.step("resume", self.resume)
        r.gapfill_view_s = self.step("gapfill_view", self.gapfill_view)
        r.position_stats_s = self.step("position_stats", self.position_stats)
        self.step("registry", self.registry)
        self.step("serve", self.serve)
        r.total_s = time.perf_counter() - t0
        return r
