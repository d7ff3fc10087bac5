"""End-to-end engine driver: the deployable job that ties the pieces
together (what `spark-submit --py-files tods_spark.zip run_job.py` executes
on a cluster).

    raw token table
      → (optional) timestamp dedup               operators/validation
      → 1m rollup (algebraic + digest)           operators/rollup
      → 1h, 1d cascade                           operators/rollup
      → (optional) 1w cascade                    operators/rollup
      → Gorilla pack of the 1m tier              operators/compression
      each of these: checkpointed partition write  plans/checkpoint, sources/storage
      → retention expiry per tier                plans/retention

Every stage is resumable: re-running `run_engine` after a crash skips
completed (tier, partition) pairs via the checkpoint log and converges to
identical bytes (dynamic partition overwrite).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession, functions as F

from tods_spark.operators import compression
from tods_spark.operators.rollup import (
    rollup_cascade,
    rollup_raw,
    rollup_raw_partial_digest,
)
from tods_spark.plans.checkpoint import CheckpointLog, run_tier
from tods_spark.plans.retention import DEFAULT_HORIZON_DAYS, expire_partitions
from tods_spark.sources.storage import PartitionedTable


def run_engine(
    spark: SparkSession,
    raw_df,
    base_dir: str,
    job_id: str = "rollup",
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
    with_digest: bool = True,
    horizons: dict | None = None,
    now: datetime | None = None,
    pack: bool = True,
    dedup: str | None = None,
    verify_resume: bool = False,
    compact: bool = False,
    with_weekly: bool = False,
) -> dict:
    """Run the full cascade with checkpointed writes; returns per-tier
    stats {tier: run_tier's report} for 1m, 1h, 1d, 1w (with_weekly) and
    1m_gorilla (pack), plus "expired" (with `now`) and "compacted".

    Each tier runs through `run_tier`. Only 1m launches a census job (on
    the raw input); every later tier reads the whole table below, and
    takes its census ({day: rows}) from that table's Parquet footers
    (`PartitionedTable.row_counts`), so it starts no Spark job before its
    write. The Gorilla pack is the checkpointed tier "1m_gorilla" (one
    blob per source-day, keyed by the day of chunk_start), fed by the 1m
    census: a resume skips days already packed, with verify_resume
    re-packs a drifted one, and it re-packs a day whose 1m content
    changed since its pack (a refresh_engine merge).

    Retention marks the partitions it drops 'expired'; `run_tier` treats
    those as retired, so a later run — verify_resume included — neither
    recomputes nor audits them. A day retired from tier N is gone from
    its table, so it drops out of tier N+1's census and is neither
    computed nor audited there either (the 1h/1d partitions themselves
    stay on disk until their own horizon). The packed tier is not expired.

    dedup: None | 'first' | 'average' — drop duplicate timestamps per key
    before the rollup (DuplicationValidation semantics, the F0 generator
    plants duplicate ts on every 97th doc)."""
    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    horizons = horizons or DEFAULT_HORIZON_DAYS
    report: dict = {}

    if dedup is not None:
        from tods_spark.operators.validation import dedup_timestamps

        raw_df = dedup_timestamps(
            raw_df, ts_col="ts", keep=dedup,
            value_cols=(value_col,) if dedup == "average" else (),
            keys=keys, order_col="doc_id",
        )

    # digest path: map-side partials by default — the collect_list variant
    # ships every raw value through the raw→1m shuffle (O(rows)); partials
    # ship O(#batches × windows) digest rows. See rollup.full_cascade.
    if with_digest:
        raw_to_1m = lambda df: rollup_raw_partial_digest(  # noqa: E731
            df, "1m", value_col=value_col, keys=keys
        )
    else:
        raw_to_1m = lambda df: rollup_raw(  # noqa: E731
            df, "1m", value_col=value_col, keys=keys, with_digest=False
        )

    def table(name: str) -> PartitionedTable:
        return PartitionedTable(spark, f"{base_dir}/tier_{name}", ["part_key"])

    tables = {"1m": table("1m")}
    report["1m"] = run_tier(
        spark, raw_df, raw_to_1m, tables["1m"], ckpt, job_id, "1m",
        in_ts_col="ts", verify_resume=verify_resume,
    )
    cascade = [("1m", "1h"), ("1h", "1d")] + ([("1d", "1w")] if with_weekly
                                             else [])
    for src, tier in cascade:
        tables[tier] = table(tier)
        report[tier] = run_tier(
            spark, tables[src].read().drop("part_key"),
            lambda df, src=src, tier=tier: rollup_cascade(
                df, src, tier, keys=keys),
            tables[tier], ckpt, job_id, tier, in_ts_col="window_start",
            verify_resume=verify_resume, census=tables[src].row_counts(),
        )

    if pack:
        report["1m_gorilla"] = run_tier(
            spark, tables["1m"].read().drop("part_key"),
            lambda df: compression.pack_tier(
                df, value_col="avg_n_tok", keys=keys),
            table("1m_gorilla"), ckpt, job_id, "1m_gorilla",
            in_ts_col="window_start", out_ts_col="chunk_start",
            verify_resume=verify_resume, census=tables["1m"].row_counts(),
            source_tier="1m",
        )

    if compact:
        # maintenance pass: merge per-run small files tier by tier (no-op
        # for partitions already at <=2 files)
        for tier, tbl in tables.items():
            report.setdefault("compacted", {})[tier] = tbl.compact()

    if now is not None:
        for tier, tbl in tables.items():
            dropped = expire_partitions(
                tbl, tier, now, horizons.get(tier), ckpt, job_id=job_id
            )
            report.setdefault("expired", {})[tier] = dropped
    return report


def refresh_engine(
    spark: SparkSession,
    late_df,
    base_dir: str,
    job_id: str = "refresh",
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
    with_weekly: bool = False,
) -> dict:
    """Late-data refresh of an existing tier-table tree (the invalidation
    half of the continuous-aggregate lifecycle; `run_engine` is the build
    half): merge the late batch into tier_1m incrementally
    (rollup.refresh_tier — tier side broadcast-only, digests merged),
    then re-cascade ONLY the affected day partitions upward through
    1h / 1d (and the affected epoch-weeks through 1w), overwriting just
    those partitions and appending fresh lineage records per partition.

    Cost model at 10^12 rows: late-batch aggregate (late-sized shuffle)
    + per-affected-day partition rewrites — the unaffected history is
    never read (partition pruning on part_key) and never rewritten.

    Delivery contract: the MERGE is incremental, so each late batch must
    be applied AT MOST ONCE (re-merging double-counts — unlike
    run_engine's recompute-from-raw, which is naturally idempotent).
    The checkpoint fences this per job_id: the 1m partition overwrite
    commits as ONE Spark job, a batch-level "1m_commit" record is
    appended the moment it returns (r7 — BEFORE the stats read-back job
    that precedes the per-partition marks, closing the window where a
    crash left zero marks and the retry re-merged), and the fence trips
    on EITHER that commit record OR any overlap between this batch's
    dates and the partitions already marked done for (job_id, "1m").
    (A subset fence would re-merge — double-counting — after a crash
    mid-mark-loop.) On a fenced re-run, marks missing for some dates are
    backfilled from a read-back of the written partitions, and the
    (idempotent) upward cascade is re-derived — so retrying a refresh
    that crashed at ANY point after the 1m write commit is safe. Re-delivering a batch under
    a NEW job_id is the caller's bug, the same offset-commit discipline
    any log-consumer job has. Upstream re-delivery within a stream is
    already handled by streaming.streaming_dedup.

    Returns {tier: {"refreshed": [part_keys], "rows_out": n}} with
    "merged": False on a fenced re-run.
    """
    from tods_spark.operators.rollup import refresh_tier
    from tods_spark.plans.checkpoint import _per_partition_stats

    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    report: dict = {}
    dates = sorted(
        r["d"]
        for r in late_df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )

    def _mark_from_readback(table: PartitionedTable, tier: str,
                            parts, **extra) -> int:
        # fingerprint the WRITTEN bytes (pruned read-back), not a plan
        # recompute: double-precision partials can differ in the last ulp
        # between the stats job and the write job's re-execution, which
        # would make a later verify_resume spuriously demote refreshed
        # partitions as drifted (run_tier uses the same discipline)
        written = table.read().filter(F.col("part_key").isin(parts))
        stats = _per_partition_stats(written, "part_key")
        total = 0
        for p in parts:
            n, fp = stats.get(p, (0, 0))
            total += n
            ckpt.mark(
                job_id=job_id, tier=tier, partition=p, status="done",
                rows_out=n, fingerprint=fp, refresh=True, **extra,
            )
        return total

    def _overwrite(table: PartitionedTable, tier: str, df, parts,
                   commit_mark: bool = False):
        out = df.withColumn(
            "part_key", F.date_format("window_start", "yyyy-MM-dd")
        ).filter(F.col("part_key").isin(parts))
        table.overwrite_partitions(out)
        if commit_mark:
            # batch-level write-committed record, appended IMMEDIATELY
            # after the overwrite returns and BEFORE the stats read-back
            # (r7, ADVICE): _mark_from_readback runs a full Spark job
            # first, so a crash inside that window used to leave ZERO
            # marks — the retry saw no overlap and re-merged the already-
            # merged batch. The marker lives under its own tier key
            # ("1m_commit") so done_partitions(job_id, "1m") and the
            # build-path run_tier bookkeeping never see it.
            ckpt.mark(job_id=job_id, tier=f"{tier}_commit",
                      partition="_batch", status="done", refresh=True)
        total = _mark_from_readback(table, tier, parts)
        report[tier] = {"refreshed": parts, "rows_out": total}

    t1m_table = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])
    already = ckpt.done_partitions(job_id, "1m")
    committed = ckpt.done_partitions(job_id, "1m_commit")
    if (set(dates) & already) or committed:
        # fenced re-run: the 1m overwrite commits as one Spark job, a
        # batch-level "1m_commit" record is appended the moment it
        # returns, and per-partition marks follow — so EITHER any
        # overlapping mark OR the commit record proves the merge is on
        # disk; re-merging would double-count. Backfill marks lost to a
        # crash after the commit point (whether before the first mark or
        # mid-mark-loop), then only re-derive the idempotent upward
        # cascade.
        missing = sorted(set(dates) - already)
        recovered = (
            _mark_from_readback(t1m_table, "1m", missing, recovered=True)
            if missing else 0
        )
        report["1m"] = {"refreshed": missing, "rows_out": recovered,
                        "merged": False}
    else:
        refreshed = refresh_tier(
            t1m_table.read().drop("part_key"), late_df, "1m",
            value_col=value_col, keys=keys,
        )
        _overwrite(t1m_table, "1m", refreshed, dates, commit_mark=True)
        report["1m"]["merged"] = True

    # upward: a 1h/1d window lies within one day, so recomputing the
    # affected DAYS of tier N+1 from the refreshed DAYS of tier N is
    # complete — partition-pruned reads on both sides
    t1h_table = PartitionedTable(spark, f"{base_dir}/tier_1h", ["part_key"])
    in1m = t1m_table.read().filter(F.col("part_key").isin(dates)).drop(
        "part_key"
    )
    _overwrite(t1h_table, "1h", rollup_cascade(in1m, "1m", "1h", keys=keys),
               dates)

    t1d_table = PartitionedTable(spark, f"{base_dir}/tier_1d", ["part_key"])
    in1h = t1h_table.read().filter(F.col("part_key").isin(dates)).drop(
        "part_key"
    )
    _overwrite(t1d_table, "1d", rollup_cascade(in1h, "1h", "1d", keys=keys),
               dates)

    if with_weekly:
        # a 1w window spans 7 epoch-aligned days: recompute each affected
        # week from ALL its member days of the 1d tier (pruned read)
        from datetime import date, timedelta

        week_days: set[str] = set()
        week_parts: set[str] = set()
        for d in dates:
            dd = date.fromisoformat(d)
            # epoch (1970-01-01, a Thursday) alignment: days since epoch
            epoch_off = (dd - date(1970, 1, 1)).days
            start = dd - timedelta(days=epoch_off % 7)
            week_parts.add(start.isoformat())
            week_days.update(
                (start + timedelta(days=i)).isoformat() for i in range(7)
            )
        t1w_table = PartitionedTable(
            spark, f"{base_dir}/tier_1w", ["part_key"]
        )
        in1d = t1d_table.read().filter(
            F.col("part_key").isin(sorted(week_days))
        ).drop("part_key")
        _overwrite(
            t1w_table, "1w", rollup_cascade(in1d, "1d", "1w", keys=keys),
            sorted(week_parts),
        )
    return report
