"""Idempotent resume: a killed-mid-tier job resumes without recomputing
completed partitions and without duplicates (BASELINE.md resumability row)."""

from __future__ import annotations

import numpy as np

from tods_spark.datagen import token_table
from tods_spark.operators.rollup import rollup_raw
from tods_spark.plans.checkpoint import CheckpointLog, run_tier
from tods_spark.sources.storage import PartitionedTable


def _compute(df):
    return rollup_raw(df, "1m")


def test_resume_skips_done_partitions(spark, tmp_path):
    raw = token_table(spark, 3000, partitions=5).cache()
    out = PartitionedTable(spark, str(tmp_path / "t1m"), ["part_key"])
    ckpt = CheckpointLog(str(tmp_path / "ckpt.jsonl"))

    r1 = run_tier(spark, raw, _compute, out, ckpt, job_id="j1", tier="1m")
    assert r1["computed"] and not r1["skipped"]
    n_days = len(r1["computed"])
    rows_after_first = out.read().count()
    assert rows_after_first == r1["rows_out"]

    # resume: everything already done → nothing recomputed, no duplicates
    r2 = run_tier(spark, raw, _compute, out, ckpt, job_id="j1", tier="1m")
    assert not r2["computed"] and len(r2["skipped"]) == n_days
    assert out.read().count() == rows_after_first

    # simulate a crash that completed only the first day: fresh job id,
    # pre-mark day 1 as done → only remaining days computed
    ckpt2 = CheckpointLog(str(tmp_path / "ckpt2.jsonl"))
    first_day = r1["computed"][0]
    ckpt2.mark(job_id="j2", tier="1m", partition=first_day, rows_in=0,
               rows_out=0, fingerprint=0, status="done")
    r3 = run_tier(spark, raw, _compute, out, ckpt2, job_id="j2", tier="1m")
    assert first_day not in r3["computed"]
    assert set(r3["computed"]) == set(r1["computed"]) - {first_day}
    # partition overwrite is idempotent: table state identical
    assert out.read().count() == rows_after_first

    # lineage records carry PER-PARTITION metrics: rows_out sums to the
    # table total, rows_in sums to the input total, and fingerprints are
    # partition-specific (distinct across partitions with distinct data)
    recs = [r for r in ckpt.records() if r["job_id"] == "j1"]
    assert sum(r["rows_out"] for r in recs) == rows_after_first
    assert sum(r["rows_in"] for r in recs) == raw.count()
    assert all(r["rows_out"] > 0 for r in recs)
    fps = [r["fingerprint"] for r in recs]
    assert len(set(fps)) == len(fps) and all(fps)
    raw.unpersist()


def test_overwrite_partitions_idempotent(spark, tmp_path):
    raw = token_table(spark, 1000, partitions=3)
    t1m = rollup_raw(raw, "1m")
    import pyspark.sql.functions as F

    withpk = t1m.withColumn("part_key", F.date_format("window_start", "yyyy-MM-dd"))
    tbl = PartitionedTable(spark, str(tmp_path / "tbl"), ["part_key"])
    tbl.overwrite_partitions(withpk)
    n1 = tbl.read().count()
    tbl.overwrite_partitions(withpk)  # rewrite same partitions
    assert tbl.read().count() == n1
    assert len(tbl.partitions()) == withpk.select("part_key").distinct().count()


def test_verify_resume_detects_and_heals_drift(spark, tmp_path):
    """verify_resume: a silently corrupted partition (rows dropped from the
    written table AFTER its checkpoint record) is detected via the
    per-partition fingerprint and recomputed; clean partitions stay
    skipped; the healed table equals the original."""
    import pyspark.sql.functions as F

    raw = token_table(spark, 6000, partitions=4)
    out = PartitionedTable(spark, str(tmp_path / "t1m"), ["part_key"])
    ckpt = CheckpointLog(str(tmp_path / "ckpt.jsonl"))
    r1 = run_tier(spark, raw, _compute, out, ckpt, job_id="v", tier="1m")
    parts = r1["computed"]
    assert len(parts) >= 2
    total = out.read().count()

    # corrupt one partition in place: keep only half its rows
    victim = parts[0]
    vic_rows = out.read().filter(F.col("part_key") == victim)
    half = vic_rows.limit(max(vic_rows.count() // 2, 1)).cache()
    half.count()
    out.overwrite_partitions(half.coalesce(1))
    half.unpersist()
    assert out.read().count() < total

    # plain resume trusts the checkpoint and skips over the corruption
    r2 = run_tier(spark, raw, _compute, out, ckpt, job_id="v", tier="1m")
    assert not r2["computed"] and out.read().count() < total

    # verifying resume detects exactly the victim, recomputes it, heals
    r3 = run_tier(spark, raw, _compute, out, ckpt, job_id="v", tier="1m",
                  verify_resume=True)
    assert r3["drifted"] == [victim]
    assert r3["computed"] == [victim]
    assert set(r3["skipped"]) == set(parts) - {victim}
    assert out.read().count() == total

    # and a second verifying resume is clean
    r4 = run_tier(spark, raw, _compute, out, ckpt, job_id="v", tier="1m",
                  verify_resume=True)
    assert not r4["drifted"] and not r4["computed"]


def test_manifest_snapshots(spark, tmp_path):
    """Every partition overwrite appends a commit record (Iceberg-style
    snapshot history); run_tier additionally attaches per-partition row
    counts as an append-only stats record; the underscore-prefixed manifest
    never pollutes parquet reads."""
    raw = token_table(spark, 1500, partitions=2)
    out = PartitionedTable(spark, str(tmp_path / "tbl"), ["part_key"])
    ckpt = CheckpointLog(str(tmp_path / "ck.jsonl"))
    run_tier(spark, raw, _compute, out, ckpt, job_id="m", tier="1m")
    snaps = tbl_snaps = out.snapshots()
    commits = [s for s in snaps if s["op"] == "overwrite_partitions"]
    stats = [s for s in snaps if s["op"] == "stats"]
    assert len(commits) == 1 and len(stats) == 1
    assert stats[0]["for_snapshot"] == commits[0]["snapshot_id"]
    assert sum(stats[0]["partitions"].values()) == out.read().count()
    # second run: resume skips everything → no new commit
    run_tier(spark, raw, _compute, out, ckpt, job_id="m", tier="1m")
    assert len(out.snapshots()) == len(tbl_snaps)
    # manifest is invisible to the parquet reader
    assert out.read().count() > 0


def test_compaction_merges_small_files(spark, tmp_path):
    """Iceberg-style maintenance: many per-run appends leave one file per
    run per partition; compact() rewrites only the fragmented partitions
    (atomic dynamic overwrite), preserves every row, and logs a snapshot."""
    import pandas as pd

    from tods_spark.sources.storage import PartitionedTable

    t = PartitionedTable(spark, str(tmp_path / "tier"), ["part_key"])
    for run in range(4):  # 4 appends -> 4 files in each partition
        pdf = pd.DataFrame({
            "part_key": ["2024-01-01"] * 5 + ["2024-01-02"] * 5,
            "v": [float(run * 10 + i) for i in range(10)],
        })
        t.append(spark.createDataFrame(pdf))
    before = {r["partition"]: r["n_files"] for r in t.file_report()}
    assert all(n >= 4 for n in before.values())
    rows_before = t.read().orderBy("part_key", "v").toPandas()

    done = t.compact(min_files=2)
    assert set(done) == set(before)
    after = {r["partition"]: r["n_files"] for r in t.file_report()}
    assert all(n <= 2 for n in after.values())  # small data -> ~1 file
    rows_after = t.read().orderBy("part_key", "v").toPandas()
    pd.testing.assert_frame_equal(
        rows_before.reset_index(drop=True), rows_after.reset_index(drop=True)
    )
    assert t.snapshots()[-1]["op"] == "compact"
    # already-compact table: no-op
    assert t.compact(min_files=2) == {}


def test_compaction_converges_and_prunes_multicol(spark, tmp_path):
    """Two regression properties of compact() on MULTI-column partitioning:

    1. The todo filter is an OR of per-partition conjunctions, so a
       partition sharing one column value with a fragmented one (the
       isin cross-product hazard: day=1/hour=4 vs fragmented day=1/hour=2
       and day=3/hour=4) is never rewritten.
    2. The salt modulus is per-partition ceil(bytes/target) and the todo
       rule is n_files > max(min_files, own target), so a second
       maintenance pass is a no-op — the table converges instead of being
       rewritten every run."""
    from pyspark.sql import functions as F

    from tods_spark.sources.storage import PartitionedTable

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day", "hour"])
    for i in range(4):
        t.append(spark.range(100).coalesce(2).select(
            F.lit(1).alias("day"), F.lit(2).alias("hour"),
            F.col("id").alias("v")))
        t.append(spark.range(100).coalesce(2).select(
            F.lit(3).alias("day"), F.lit(4).alias("hour"),
            (F.col("id") + i).alias("v")))
    t.append(spark.range(50).coalesce(1).select(
        F.lit(1).alias("day"), F.lit(4).alias("hour"),
        F.col("id").alias("v")))
    before = {r["partition"]: r["n_files"] for r in t.file_report()}
    assert before["day=1/hour=4"] == 1

    done = t.compact(min_files=2)
    assert "day=1/hour=4" not in done  # cross-product victim stays out
    assert set(done) == {"day=1/hour=2", "day=3/hour=4"}
    assert t.read().filter("day=1 and hour=4").count() == 50
    assert t.read().filter("day=1 and hour=2").count() == 400
    assert t.read().filter("day=3 and hour=4").count() == 400
    # convergence: an immediate second pass must find nothing to do
    assert t.compact(min_files=2) == {}


def test_census_handoff_keeps_records(spark, tmp_path):
    """A cascade tier fed the tier below's footer `row_counts()` as its
    census (what run_engine does) writes the same per-partition lineage
    as one that counts its own input with a groupBy job: rows_in,
    rows_out and fingerprint agree for every 1m/1h/1d/1w record."""
    from tods_spark.operators.rollup import rollup_cascade

    raw = token_table(spark, 1500, cadence_s=3600).cache()  # ~9 weeks

    def build(job: str, handoff: bool) -> dict:
        ckpt = CheckpointLog(str(tmp_path / job / "ckpt.jsonl"))
        below, census = None, None
        for src, tier in ((None, "1m"), ("1m", "1h"), ("1h", "1d"),
                          ("1d", "1w")):
            table = PartitionedTable(spark, str(tmp_path / job / tier),
                                     ["part_key"])
            if below is None:
                inp, compute, ts = raw, _compute, "ts"
            else:
                inp, ts = below.read().drop("part_key"), "window_start"
                compute = lambda df, s=src, t=tier: rollup_cascade(df, s, t)  # noqa: E731
            run_tier(spark, inp, compute, table, ckpt, job, tier,
                     in_ts_col=ts, census=census if handoff else None)
            assert table.row_counts() == {
                str(r[0]): r[1] for r in
                table.read().groupBy("part_key").count().collect()
            }
            below, census = table, table.row_counts()
        return {
            (r["tier"], r["partition"]):
                (r["rows_in"], r["rows_out"], r["fingerprint"])
            for r in ckpt.records()
        }

    counted = build("counted", handoff=False)
    handed = build("handed", handoff=True)
    assert {t for t, _ in counted} == {"1m", "1h", "1d", "1w"}
    assert handed == counted
    raw.unpersist()
