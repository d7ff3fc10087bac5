"""Component-level profile of the bench token cascade (guide §1: measure
first). Mirrors bench.py's run_token_cascade stage by stage — 1m write,
counts, 1h, 1d, gap-fill, Gorilla pack — with per-stage wall times and job
descriptions, so optimization work targets the stage that actually costs.

Usage: python scripts/profile_cascade.py [n_docs] [reps]
Reads $SPARK_GRAFT_SF_DIR-style sizing via n_docs (default 400_000 = sf0.1).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tods_spark.datagen import token_table  # noqa: E402
from tods_spark.operators import compression, gapfill  # noqa: E402
from tods_spark.operators.rollup import full_cascade, rollup_cascade  # noqa: E402
from tods_spark.session import get_spark  # noqa: E402


def profile_once(spark, raw, label: str) -> dict[str, float]:
    t: dict[str, float] = {}

    def stage(name, fn):
        spark.sparkContext.setJobDescription(f"{label}:{name}")
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        return out

    with tempfile.TemporaryDirectory() as td:
        t1m_path = os.path.join(td, "tier_1m.parquet")
        tiers = full_cascade(raw, with_digest=True)
        stage("1m_write", lambda: tiers["1m"].write.mode("overwrite")
              .parquet(t1m_path))
        t1m = spark.read.parquet(t1m_path)
        stage("1m_count", t1m.count)
        t1h = rollup_cascade(t1m, "1m", "1h")
        stage("1h_count", t1h.count)
        stage("1d_count", lambda: rollup_cascade(t1h, "1h", "1d").count())
        stage("gapfill_count",
              lambda: gapfill.gap_fill_tier(t1m, 60).count())
        stage("pack_collect",
              lambda: compression.pack_tier(t1m, value_col="avg_n_tok")
              .agg(F.sum("n_points")).collect())
    t["total"] = round(sum(v for k, v in t.items() if k != "total"), 3)
    spark.sparkContext.setJobDescription(None)
    return t


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    # local[$SPARK_GRAFT_CPUS], else the CPUs in this process's affinity
    spark = get_spark(app_name="profile_cascade")
    with tempfile.TemporaryDirectory() as td:
        raw_path = os.path.join(td, "tokens.parquet")
        token_table(spark, n_docs).write.mode("overwrite").parquet(raw_path)
        raw = spark.read.parquet(raw_path)
        profile_once(spark, raw, "warm")  # untimed warm-up
        for r in range(reps):
            print(profile_once(spark, raw, f"rep{r}"), flush=True)


if __name__ == "__main__":
    main()
