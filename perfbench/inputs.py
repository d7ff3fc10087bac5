"""Benchmark inputs, written as parquet into the run's work dir.

The token inputs are a pure function of the workload name and ``--seed``:

* the raw token table (``tods_spark.datagen.gen_pandas``, schema F0),
  shaped per workload — ``build_dense`` compresses the generator's
  timestamps 16x so most 1m windows hold more than K+1 = 65 values;
  ``build_sparse`` keeps the generator's default 7 s cadence but samples
  every 8th doc index, which spreads few docs over many day partitions;
* late batches for ``refresh_engine``, made one at a time as the serve
  loop needs them (``TokenInputs.late``), each landing on 1-2 days the
  tier tree still stores, drawn from the seed with a bias towards recent
  days.

The registry queries read the engine's sf0.01 test tables, copied under
``REGISTRY_DIR``; they do not change with the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tods_spark.datagen import gen_pandas

DENSE_DOCS = 30_000
DENSE_COMPRESS = 16
SPARSE_DOCS = 6_000
SPARSE_STRIDE = 8
# build_sparse runs retention with `now` this many days after the last raw
# day: the 30-day 1m horizon then expires about half of the 1m tier
SPARSE_NOW_AFTER_DAYS = 27
LATE_DOCS = 400
WORKLOADS = ("build_dense", "build_sparse")
REGISTRY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")


@dataclass
class TokenInputs:
    raw_path: str
    now: datetime | None          # retention clock passed to run_engine
    days: list[str]               # raw day partitions
    stored_days: list[str]        # days the 1m tier keeps after retention
    seed: int
    out_dir: str
    next_index: int               # first doc index the late batches use
    day_span: pd.DataFrame        # observed min / max ts per raw day
    late_paths: list[str] = field(default_factory=list)
    late_days: list[list[str]] = field(default_factory=list)

    def late(self, b: int) -> str:
        """Path of late batch ``b`` (written on first use): LATE_DOCS docs
        on 1-2 stored days, recent days more likely, inside the observed
        time range of their day so they mostly merge into existing 1m
        windows."""
        while len(self.late_paths) <= b:
            self._write_late(len(self.late_paths))
        return self.late_paths[b]

    def _write_late(self, b: int) -> None:
        stored = self.stored_days
        rng = np.random.default_rng([self.seed, 1, b])
        weights = 0.7 ** np.arange(len(stored))[::-1]
        weights = weights / weights.sum()
        n_days = 1 + int(rng.integers(0, 2)) if len(stored) > 1 else 1
        chosen = sorted(rng.choice(stored, size=n_days, replace=False,
                                   p=weights))
        first = self.next_index + b * LATE_DOCS
        lidx = np.arange(first, first + LATE_DOCS, dtype=np.uint64)
        late = gen_pandas(lidx, seed=self.seed)
        late["doc_id"] = late["doc_id"] + f"-late{b}"
        which = rng.integers(0, n_days, size=LATE_DOCS)
        lo = np.array([self.day_span.loc[chosen[w], "min"].value for w in which])
        hi = np.array([self.day_span.loc[chosen[w], "max"].value for w in which])
        late["ts"] = pd.to_datetime(
            lo + (rng.random(LATE_DOCS) * (hi - lo)).astype(np.int64)
        )
        path = os.path.join(self.out_dir, f"late{b}.parquet")
        _write_tokens(late, path)
        self.late_paths.append(path)
        self.late_days.append([str(d) for d in chosen])


RAW_ROW_GROUPS = 16


def _write_tokens(pdf: pd.DataFrame, path: str) -> None:
    """Parquet with RAW_ROW_GROUPS row groups: Spark splits a file's scan
    by row group, so one group would leave one task doing the whole scan."""
    # tz-aware UTC micros: Spark reads the column as TIMESTAMP, the type
    # tods_spark.datagen.token_table produces
    pdf = pdf.assign(ts=pdf["ts"].dt.floor("us").dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True,
                   row_group_size=max(1, -(-len(pdf) // RAW_ROW_GROUPS)))


def token_inputs(workload: str, seed: int, out_dir: str) -> TokenInputs:
    if workload == "build_dense":
        idx = np.arange(DENSE_DOCS, dtype=np.uint64)
        pdf = gen_pandas(idx, seed=seed)
        t0 = pdf["ts"].min()
        pdf["ts"] = t0 + (pdf["ts"] - t0) / DENSE_COMPRESS
        next_index = DENSE_DOCS
        now = None
    elif workload == "build_sparse":
        idx = np.arange(0, SPARSE_DOCS * SPARSE_STRIDE, SPARSE_STRIDE,
                        dtype=np.uint64)
        pdf = gen_pandas(idx, seed=seed)
        next_index = SPARSE_DOCS * SPARSE_STRIDE
        now = (pdf["ts"].max().normalize()
               + pd.Timedelta(days=SPARSE_NOW_AFTER_DAYS)).to_pydatetime()
    else:
        raise ValueError(f"unknown workload {workload!r}")
    raw_path = os.path.join(out_dir, "raw.parquet")
    _write_tokens(pdf, raw_path)

    pdf["day"] = pdf["ts"].dt.strftime("%Y-%m-%d")
    days = sorted(pdf["day"].unique())
    stored = days
    if now is not None:
        cutoff = (now - timedelta(days=30)).strftime("%Y-%m-%d")
        stored = [d for d in days if d >= cutoff]
    span = pdf.groupby("day")["ts"].agg(["min", "max"])
    return TokenInputs(raw_path, now, days, stored, seed, out_dir,
                       next_index, span)
