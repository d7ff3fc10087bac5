"""End-to-end engine: checkpointed cascade, resume, retention expiry,
preprocessing operators."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tods_spark.datagen import token_table
from tods_spark.operators import preprocessing as PP
from tods_spark.pipeline import run_engine
from tods_spark.plans.checkpoint import CheckpointLog


def test_run_engine_end_to_end_and_resume(spark, tmp_path):
    # 12k docs at 7s cadence (+gaps) spans two calendar days — retention
    # needs at least one expirable partition plus one survivor
    raw = token_table(spark, 12000, partitions=5).cache()
    base = str(tmp_path / "engine")

    r1 = run_engine(spark, raw, base, with_digest=False, pack=True)
    assert r1["1m"]["computed"] and r1["1h"]["computed"] and r1["1d"]["computed"]
    t1m = spark.read.parquet(f"{base}/tier_1m")
    t1d = spark.read.parquet(f"{base}/tier_1d")
    assert t1m.count() > 0 and t1d.count() > 0
    # cascade consistency: total cnt equal at every tier
    assert (
        t1m.agg(F.sum("cnt")).collect()[0][0]
        == t1d.agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )
    packed = spark.read.parquet(f"{base}/tier_1m_gorilla")
    assert packed.agg(F.sum("n_points")).collect()[0][0] == t1m.count()

    # resume: nothing recomputed, identical table state
    n1m = t1m.count()
    r2 = run_engine(spark, raw, base, with_digest=False, pack=False)
    assert not r2["1m"]["computed"] and not r2["1h"]["computed"]
    assert spark.read.parquet(f"{base}/tier_1m").count() == n1m

    # retention: expire 1m partitions older than 1 day from the max ts
    from datetime import timedelta

    max_day = t1m.agg(F.max("window_start")).collect()[0][0]
    r3 = run_engine(
        spark, raw, base, with_digest=False, pack=False,
        now=datetime(max_day.year, max_day.month, max_day.day)
        + timedelta(days=1),
        horizons={"1m": 1, "1h": 365, "1d": None},
    )
    assert r3["expired"]["1m"], "old 1m partitions must be dropped"
    t1m_after = spark.read.parquet(f"{base}/tier_1m")
    assert t1m_after.count() < n1m
    # 1d tier still holds the full history (rollup-based retention)
    assert (
        spark.read.parquet(f"{base}/tier_1d").agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )
    raw.unpersist()


def test_parse_columns(spark):
    pdf = pd.DataFrame(
        {
            "i": ["1", "2", "3"],
            "f": ["1.5", "2.5", "x"],
            "d": ["2024-01-01 00:00:00"] * 3,
            "vec": ["1.0,2.0", "3.0,4.0", "5.0,6.0"],
        }
    )
    out = PP.parse_columns(
        spark.createDataFrame(pdf),
        {"i": "int", "f": "float", "d": "datetime", "vec": "float_vector"},
    )
    types = dict(out.dtypes)
    assert types["i"] == "bigint" and types["f"] == "double"
    assert types["d"].startswith("timestamp") and types["vec"] == "array<double>"
    rows = out.orderBy("i").collect()
    assert rows[0]["vec"] == [1.0, 2.0]
    assert rows[2]["f"] is None  # malformed float -> null (try-cast semantics)


def test_categorical_to_binary(spark):
    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "cat": ["a", "b", "a", None]})
    out = PP.categorical_to_binary(spark.createDataFrame(pdf), "cat")
    got = out.orderBy("id").toPandas()
    np.testing.assert_array_equal(got["cat_a"], [1, 0, 1, 0])
    np.testing.assert_array_equal(got["cat_b"], [0, 1, 0, 0])
    np.testing.assert_array_equal(got["cat_nan"], [0, 0, 0, 1])


def test_impute_strategies(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0, None], "b": [5.0, 5.0, None, 7.0]})
    df = spark.createDataFrame(pdf)
    mean = PP.impute(df, ["a", "b"], "mean").toPandas()
    assert mean["a"].tolist() == [1.0, 2.0, 3.0, 2.0]
    med = PP.impute(df, ["b"], "median").toPandas()
    assert med["b"].tolist() == [5.0, 5.0, 5.0, 7.0]
    mf = PP.impute(df, ["b"], "most_frequent").toPandas()
    assert mf["b"].tolist() == [5.0, 5.0, 5.0, 7.0]
    const = PP.impute(df, ["a"], "constant", fill_value=-1.0).toPandas()
    assert const["a"].tolist() == [1.0, -1.0, 3.0, -1.0]


def test_filter_nan_tail_columns(spark):
    pdf = pd.DataFrame(
        {
            "ord": [0, 1, 2],
            "keep": [1.0, 2.0, 3.0],
            "drop_me": [1.0, 2.0, float("nan")],
        }
    )
    out = PP.filter_nan_tail_columns(
        spark.createDataFrame(pdf), ["keep", "drop_me"], order_col="ord"
    )
    assert "drop_me" not in out.columns and "keep" in out.columns


def test_run_engine_with_dedup(spark, tmp_path):
    raw = token_table(spark, 2000, partitions=3)
    base = str(tmp_path / "engine_dedup")
    run_engine(spark, raw, base, with_digest=False, pack=False, dedup="first")
    t1m = spark.read.parquet(f"{base}/tier_1m")
    total = t1m.agg(F.sum("cnt")).collect()[0][0]
    # expected: one row per distinct (source, ts) — computed from the same
    # deterministic generator
    from tods_spark.datagen import gen_pandas
    import numpy as np

    pdf = gen_pandas(np.arange(2000))
    expected = len(pdf.drop_duplicates(["source", "ts"]))
    assert total == expected < 2000


def test_run_engine_weekly_tier(spark, tmp_path):
    """with_weekly=True adds a checkpointed 1w tier whose totals re-sum
    the 1d tier exactly."""
    from tods_spark.datagen import token_table

    base = str(tmp_path / "weekly")
    raw = token_table(spark, 1500, cadence_s=3600)
    r = run_engine(spark, raw, base, with_digest=False, pack=False,
                   with_weekly=True)
    assert r["1w"]["rows_out"] > 0
    t1d = spark.read.parquet(f"{base}/tier_1d")
    t1w = spark.read.parquet(f"{base}/tier_1w")
    from pyspark.sql import functions as F
    a = t1d.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
    b = t1w.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
    assert a[0] == b[0] and abs(a[1] - b[1]) < 1e-6


def test_refresh_engine_matches_full_rebuild(spark, tmp_path):
    """Late-data refresh: build the tier tree from on-time rows, refresh
    with the late batch (affected day partitions only), and every tier —
    algebraic columns AND digests — equals a full rebuild over all rows.
    Token-table windows stay <= K=64 values, so digest merge is exact."""
    from tods_spark.pipeline import refresh_engine

    raw = token_table(spark, 12000, partitions=5).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")  # "doc-%012d" ids
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base_r = str(tmp_path / "refresh")
    run_engine(spark, on_time, base_r, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base_r)
    assert rep["1m"]["refreshed"] and rep["1h"]["refreshed"]

    base_f = str(tmp_path / "full")
    run_engine(spark, raw, base_f, with_digest=True, pack=False)

    for tier in ("1m", "1h", "1d"):
        got = (
            spark.read.parquet(f"{base_r}/tier_{tier}")
            .drop("part_key")
            .toPandas()
            .sort_values(["source", "window_start"])
            .reset_index(drop=True)
        )
        exp = (
            spark.read.parquet(f"{base_f}/tier_{tier}")
            .drop("part_key")
            .toPandas()
            .sort_values(["source", "window_start"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), tier
        for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok",
                  "sum_sq_n_tok"):
            np.testing.assert_allclose(
                got[c].astype(float), exp[c].astype(float), rtol=1e-12,
                err_msg=f"{tier}.{c}",
            )
        for a, b in zip(got.qdigest, exp.qdigest):
            np.testing.assert_allclose(
                np.asarray(a, float), np.asarray(b, float), rtol=1e-12,
                err_msg=f"{tier}.qdigest",
            )

    # fenced re-run (same job_id): the merge is NOT re-applied — no
    # double count — and the idempotent cascade re-derivation keeps the
    # tables at the converged state
    rep2 = refresh_engine(spark, late, base_r)
    assert rep2["1m"]["merged"] is False
    assert (
        spark.read.parquet(f"{base_r}/tier_1m")
        .agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )
    raw.unpersist()


def test_refresh_fence_survives_crash_mid_mark_loop(spark, tmp_path):
    """The at-most-once fence must hold when the previous refresh crashed
    BETWEEN the (single-job) 1m partition overwrite and completing the
    per-partition mark loop: some dates are marked, some not. A subset
    fence would see "not all done" and re-merge the full late batch —
    double-counting every affected window; the overlap fence skips the
    merge (any mark proves the write committed), backfills the missing
    marks from a read-back, and re-derives the idempotent cascade."""
    import json as J

    from tods_spark.pipeline import refresh_engine

    raw = token_table(spark, 8000, partitions=4).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base = str(tmp_path / "fence")
    run_engine(spark, on_time, base, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base)
    dates = sorted(rep["1m"]["refreshed"])
    assert len(dates) >= 2, "need multiple affected days to plant the crash"

    # simulate the crash: drop the 1m refresh marks for every date but
    # the first (the overwrite itself already committed as one job)
    ckpt = f"{base}/checkpoint.jsonl"
    recs = [J.loads(ln) for ln in open(ckpt) if ln.strip()]
    kept = [
        r for r in recs
        if not (r.get("refresh") and r["tier"] == "1m"
                and r["partition"] in dates[1:])
    ]
    assert len(kept) < len(recs)
    with open(ckpt, "w") as fh:
        fh.write("\n".join(J.dumps(r) for r in kept) + "\n")

    rep2 = refresh_engine(spark, late, base)
    assert rep2["1m"]["merged"] is False  # overlap fence held — no re-merge
    assert sorted(rep2["1m"]["refreshed"]) == dates[1:]  # marks backfilled
    # no double count anywhere in the tree
    for tier in ("1m", "1h", "1d"):
        assert (
            spark.read.parquet(f"{base}/tier_{tier}")
            .agg(F.sum("cnt")).collect()[0][0]
            == 8000
        ), tier
    # the backfilled marks carry read-back fingerprints: a third run is
    # fully fenced and a verify_resume-style audit sees no drift
    from tods_spark.plans.checkpoint import CheckpointLog

    done = CheckpointLog(ckpt).done_partitions("refresh", "1m")
    assert set(dates) <= done
    raw.unpersist()


def test_refresh_fence_survives_crash_before_first_mark(spark, tmp_path):
    """The window ADVICE r6 flagged: a crash BETWEEN the 1m overwrite
    commit and the FIRST per-partition mark (the read-back stats job runs
    before any mark is appended) used to leave zero marks, so the retry
    saw no overlap and re-merged the already-merged batch. The r7
    batch-level "1m_commit" record — appended the moment the overwrite
    returns — must fence that retry: no re-merge, all marks backfilled,
    no double count."""
    import json as J

    from tods_spark.pipeline import refresh_engine
    from tods_spark.plans.checkpoint import CheckpointLog

    raw = token_table(spark, 8000, partitions=4).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base = str(tmp_path / "fence2")
    run_engine(spark, on_time, base, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base)
    dates = sorted(rep["1m"]["refreshed"])

    # simulate the crash: drop EVERY per-partition 1m refresh mark but
    # keep the batch-level commit record (the overwrite committed, then
    # the process died inside the read-back, before the first mark)
    ckpt = f"{base}/checkpoint.jsonl"
    recs = [J.loads(ln) for ln in open(ckpt) if ln.strip()]
    kept = [
        r for r in recs
        if not (r.get("refresh") and r["tier"] == "1m")
    ]
    assert any(r["tier"] == "1m_commit" for r in kept)
    with open(ckpt, "w") as fh:
        fh.write("\n".join(J.dumps(r) for r in kept) + "\n")

    rep2 = refresh_engine(spark, late, base)
    assert rep2["1m"]["merged"] is False   # commit record fenced the merge
    assert sorted(rep2["1m"]["refreshed"]) == dates  # all marks backfilled
    for tier in ("1m", "1h", "1d"):
        assert (
            spark.read.parquet(f"{base}/tier_{tier}")
            .agg(F.sum("cnt")).collect()[0][0]
            == 8000
        ), tier
    done = CheckpointLog(ckpt).done_partitions("refresh", "1m")
    assert set(dates) <= done
    raw.unpersist()


def _tree_state(base: str) -> dict:
    """(size, mtime) of every file under the tier tables, manifests
    included: equal states mean no tier file was written or removed."""
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            if f != "checkpoint.jsonl" and not f.startswith("."):
                st = os.stat(os.path.join(d, f))
                out[os.path.relpath(os.path.join(d, f), base)] = (
                    st.st_size, st.st_mtime_ns)
    return out


def _packed(spark, base: str) -> pd.DataFrame:
    return (spark.read.parquet(f"{base}/tier_1m_gorilla").toPandas()
            .sort_values(["source", "chunk_start"]).reset_index(drop=True))


def test_verify_resume_leaves_retired_days_retired(spark, tmp_path):
    """1m days that retention expired are retired: a verifying resume
    neither recomputes nor audits them, reports no drift and writes no
    tier file. Audit scope: a 1h day whose 1m source is retired drops out
    of the 1h census (its 1m partition is gone from the table below), so
    it is not audited although it stays on disk; the 1d tier still audits
    that day, since its source — the 1h day — is still held."""
    raw = token_table(spark, 12000, partitions=5).cache()  # two days
    base = str(tmp_path / "retired")
    days = sorted(r[0] for r in raw.select(
        F.date_format("ts", "yyyy-MM-dd")).distinct().collect())
    last = datetime.fromisoformat(days[-1])
    kw = dict(with_digest=False, now=last + timedelta(days=1),
              horizons={"1m": 1, "1h": 365, "1d": None})

    r1 = run_engine(spark, raw, base, **kw)
    retired = r1["expired"]["1m"]
    assert retired and retired == days[:-1]
    before = _tree_state(base)

    r2 = run_engine(spark, raw, base, verify_resume=True, **kw)
    for tier in ("1m", "1h", "1d", "1m_gorilla"):
        assert not r2[tier]["computed"] and not r2[tier]["drifted"], tier
        held = days if tier == "1d" else days[-1:]
        assert r2[tier]["skipped"] == held, tier
    assert r2["expired"]["1m"] == []
    assert _tree_state(base) == before
    held_1h = {str(r[0]) for r in spark.read.parquet(f"{base}/tier_1h")
               .select("part_key").distinct().collect()}
    assert set(retired) <= held_1h
    raw.unpersist()


def test_packed_tier_is_checkpointed(spark, tmp_path):
    """tier_1m_gorilla runs as the checkpointed tier "1m_gorilla": a
    resume does not rewrite it, and a verifying resume flags a corrupted
    packed day as drifted and re-packs it bit-identically."""
    raw = token_table(spark, 3000, cadence_s=60).cache()  # three days
    base = str(tmp_path / "packed")
    r1 = run_engine(spark, raw, base, with_digest=False)
    days = r1["1m_gorilla"]["computed"]
    assert len(days) >= 2 and days == r1["1m"]["computed"]
    built = _packed(spark, base)
    assert {
        r["partition"]: r["rows_out"]
        for r in CheckpointLog(f"{base}/checkpoint.jsonl").records()
        if r["tier"] == "1m_gorilla"
    } == (built.groupby(built["chunk_start"].dt.strftime("%Y-%m-%d"))
          .size().to_dict())
    assert built["n_points"].sum() == r1["1m"]["rows_out"]

    before = _tree_state(base)
    r2 = run_engine(spark, raw, base, with_digest=False)
    assert not r2["1m_gorilla"]["computed"]
    assert r2["1m_gorilla"]["skipped"] == days
    assert _tree_state(base) == before

    # corrupt one packed day: keep all but one of its blobs
    from tods_spark.sources.storage import PartitionedTable

    victim = days[0]
    packed = PartitionedTable(spark, f"{base}/tier_1m_gorilla", ["part_key"])
    rows = packed.read().filter(F.col("part_key") == victim).toPandas()
    packed.overwrite_partitions(spark.createDataFrame(
        rows.iloc[1:], schema=packed.read().schema))

    r3 = run_engine(spark, raw, base, with_digest=False, verify_resume=True)
    assert r3["1m_gorilla"]["drifted"] == [victim]
    assert r3["1m_gorilla"]["computed"] == [victim]
    assert not r3["1m"]["computed"]
    pd.testing.assert_frame_equal(_packed(spark, base), built)
    raw.unpersist()


def test_pack_crash_before_marks_repacks(spark, tmp_path, monkeypatch):
    """A run that dies after the packed tier's overwrite but before its
    marks leaves the packed days unmarked: the resume re-packs them (and
    only them) to the same bytes."""
    raw = token_table(spark, 3000, cadence_s=60).cache()
    base = str(tmp_path / "crash")
    mark = CheckpointLog.mark

    def crash_at_pack_marks(self, **record):
        if record["tier"] == "1m_gorilla":
            raise RuntimeError("killed before the pack marks")
        mark(self, **record)

    monkeypatch.setattr(CheckpointLog, "mark", crash_at_pack_marks)
    with pytest.raises(RuntimeError, match="pack marks"):
        run_engine(spark, raw, base, with_digest=False)
    monkeypatch.undo()
    written = _packed(spark, base)

    r = run_engine(spark, raw, base, with_digest=False)
    assert not r["1m"]["computed"] and not r["1d"]["computed"]
    assert r["1m_gorilla"]["computed"] == r["1m"]["skipped"]
    pd.testing.assert_frame_equal(_packed(spark, base), written)
    assert written["n_points"].sum() == spark.read.parquet(
        f"{base}/tier_1m").count()
    raw.unpersist()


def _tier(spark, base: str, tier: str) -> pd.DataFrame:
    return (spark.read.parquet(f"{base}/tier_{tier}").toPandas()
            .sort_values(["source", "window_start"]).reset_index(drop=True))


def _day(ts_col: str = "ts"):
    return F.date_format(ts_col, "yyyy-MM-dd")


def test_new_job_on_raw_subset_rebuilds_whole_weeks(spark, tmp_path):
    """A cascade tier's input is the whole table below, not only the days
    of this run's raw: a new job_id fed two days of one week still lists
    every day of tier_1d, so 1w is rebuilt from full weeks (never a
    partial week's sum), and the 1h/1d/1w lineage equals the first
    job's."""
    raw = token_table(spark, 1500, cadence_s=3600).cache()  # ~9 weeks
    base = str(tmp_path / "subset")
    kw = dict(with_digest=False, pack=False, with_weekly=True)
    r1 = run_engine(spark, raw, base, job_id="night-1", **kw)
    built = _tier(spark, base, "1w")
    weeks = sorted(str(w) for w in built["part_key"].unique())
    assert len(weeks) >= 3
    start = datetime.fromisoformat(weeks[1])
    subset_days = [(start + timedelta(days=i)).strftime("%Y-%m-%d")
                   for i in (2, 3)]
    subset = raw.filter(_day().isin(subset_days))

    r2 = run_engine(spark, subset, base, job_id="night-2", **kw)
    assert r2["1m"]["computed"] == subset_days
    for tier in ("1h", "1d", "1w"):
        assert r2[tier]["computed"] == r1[tier]["computed"], tier
    pd.testing.assert_frame_equal(_tier(spark, base, "1w"), built)

    def lineage(job: str) -> dict:
        return {
            (r["tier"], r["partition"]):
                (r["rows_in"], r["rows_out"], r["fingerprint"])
            for r in CheckpointLog(f"{base}/checkpoint.jsonl").records()
            if r["job_id"] == job and r["tier"] != "1m"
        }

    assert lineage("night-2") == lineage("night-1")
    raw.unpersist()


def test_resume_builds_cascade_days_raw_no_longer_holds(
        spark, tmp_path, monkeypatch):
    """A run that dies after its 1m tier leaves 1h/1d unbuilt. A resume
    whose raw no longer holds those days still builds them from tier_1m
    (the census is the table below, not the raw), so the coarser tiers
    keep those days once 1m expires them."""
    import tods_spark.pipeline as pipeline

    raw = token_table(spark, 3000, cadence_s=60).cache()  # three days
    base = str(tmp_path / "crash")
    run_tier = pipeline.run_tier

    def die_at_1h(*a, **k):
        if a[6] == "1h":
            raise RuntimeError("killed after the 1m tier")
        return run_tier(*a, **k)

    monkeypatch.setattr(pipeline, "run_tier", die_at_1h)
    with pytest.raises(RuntimeError, match="after the 1m tier"):
        run_engine(spark, raw, base, with_digest=False, pack=False)
    monkeypatch.undo()
    days = sorted(r[0] for r in raw.select(_day()).distinct().collect())
    assert len(days) >= 2

    r = run_engine(spark, raw.filter(_day() == days[-1]), base,
                   with_digest=False, pack=False)
    assert r["1m"]["skipped"] == days[-1:] and not r["1m"]["computed"]
    assert r["1h"]["computed"] == days and r["1d"]["computed"] == days

    full = str(tmp_path / "full")
    run_engine(spark, raw, full, with_digest=False, pack=False)
    for tier in ("1h", "1d"):
        pd.testing.assert_frame_equal(_tier(spark, base, tier),
                                      _tier(spark, full, tier))
    raw.unpersist()


def test_run_engine_repacks_days_a_refresh_changed(spark, tmp_path):
    """refresh_engine merges late rows into tier_1m but does not re-pack.
    Each packed record carries the fingerprint of the 1m day it packed,
    so the next run_engine re-packs exactly the refreshed day, to what
    packing the current tier_1m gives."""
    from tods_spark.operators import compression
    from tods_spark.pipeline import refresh_engine

    raw = token_table(spark, 3000, cadence_s=60).cache()  # three days
    days = sorted(r[0] for r in raw.select(_day()).distinct().collect())
    doc_n = F.substring("doc_id", 5, 15).cast("long")  # "doc-%012d" ids
    is_late = (doc_n % 13 == 0) & (_day() == days[1])
    on_time, late = raw.filter(~is_late), raw.filter(is_late)
    base = str(tmp_path / "refresh")

    run_engine(spark, on_time, base, with_digest=False)
    assert refresh_engine(spark, late, base)["1m"]["refreshed"] == days[1:2]
    r = run_engine(spark, on_time, base, with_digest=False)
    assert not r["1m"]["computed"] and not r["1h"]["computed"]
    assert r["1m_gorilla"]["computed"] == days[1:2]

    fresh = (compression.pack_tier(
        spark.read.parquet(f"{base}/tier_1m").drop("part_key"),
        value_col="avg_n_tok").toPandas()
        .sort_values(["source", "chunk_start"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(_packed(spark, base).drop(
        columns="part_key"), fresh)
    raw.unpersist()
