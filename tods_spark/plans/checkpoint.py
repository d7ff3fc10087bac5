"""Checkpoint / lineage table + idempotent tier runner.

North-star requirement: "every rollup stage writes per-partition lineage +
row-count metrics to a checkpoint table so the job resumes idempotently
mid-tier" (BASELINE.json). The reference has nothing comparable — its only
persistence is whole-model pickles (tods/utils.py:432-537) and a full refit
on restart; this is net-new engine design (SURVEY.md §4 "incremental /
resumable execution: must DESIGN").

Design:
  * work is partitioned by a coarse PARTITION KEY (default: the day of the
    tier window) — the unit of skip/recompute;
  * the checkpoint table holds one JSON-lines record per (job_id, tier,
    partition), each carrying THAT partition's rows_in, rows_out and
    fingerprint (order-insensitive xxhash64 sum of the partition's written
    rows — computed from a read-back of the written bytes, so resume-time
    drift in any single partition is detectable), plus status and wall
    seconds;
  * `run_tier` takes the input's partition census ({partition: rows in})
    from ONE groupBy job, or from the caller when it already holds it: a
    cascade tier's input is the whole table below, whose census the
    Parquet footers give without a Spark job (`PartitionedTable.
    row_counts`), so run_engine hands it up (1m→1h→1d→1w and
    1m→1m_gorilla) and those tiers launch no Spark job before their write;
  * it skips partitions already 'done' for (job_id, tier), filters the
    rest IN (partition pruning — the filter lands on the parquet scan),
    computes them, writes results with dynamic partition overwrite
    (idempotent), then marks them done;
  * a partition whose newest record is 'expired' (plans/retention) is
    retired: it is neither recomputed, skipped nor audited, so a resume
    does not rebuild what retention dropped on purpose;
  * a crash between "write" and "mark" re-runs that partition; the
    partition overwrite converges to the same bytes, so resume is exactly-
    once in effect (at-least-once execution, idempotent apply).

The Gorilla-packed 1m tier ("1m_gorilla", keyed by the day of its
`chunk_start`) runs through the same runner, so it has lineage and
fingerprints too: a resume skips days already packed and re-packs a
drifted one. Its records also carry the fingerprint of the 1m day they
packed (`source_tier`), so a day whose 1m partition was rewritten since
— refresh_engine merges late data into 1m without re-packing — is
re-packed by the next run.

Fingerprints cover the bytes a tier writes, so a kernel swap either keeps
those bytes or changes this contract on purpose. One such change: the 1m
digest is now built by a JVM expression whose bytes are exactly
`sketches.digest_from_values`' for the window's values, independent of
partitioning (functions/sketches). The partial-digest path it replaced
differed from that spec by up to ~1e-11 on windows of more than K+1
values, so those windows' 1m digests — and the 1h/1d digests merged from
them — changed bytes once; smaller windows are bit-identical. A tree
written before keeps its bytes and records (a resume, verified or not,
compares written bytes with their own record); a partition recomputed now
writes the spec's bytes and records their new fingerprint.

The checkpoint table itself is tiny (one row per partition per tier) and is
stored as JSON lines appended atomically per run — on a cluster this becomes
an Iceberg table with MERGE; the interface is the same.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from tods_spark.sources.storage import PartitionedTable


class CheckpointLog:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def done_partitions(self, job_id: str, tier: str) -> set[str]:
        return {
            r["partition"]
            for r in self.records()
            if r["job_id"] == job_id and r["tier"] == tier and r["status"] == "done"
        }

    def latest_records(self, job_id: str, tier: str) -> dict[str, dict]:
        """{partition: its newest 'done' or 'expired' record} for (job_id,
        tier); the log is append-only, so file order is time order."""
        return {
            r["partition"]: r
            for r in self.records()
            if r["job_id"] == job_id and r["tier"] == tier
            and r["status"] in ("done", "expired")
        }

    def newest_fingerprints(self, tier: str) -> dict[str, int]:
        """{partition: fingerprint of its newest 'done' record} for `tier`
        over every job_id — what the tier's table holds now, whichever job
        (a build, a refresh) wrote it last."""
        return {
            r["partition"]: r["fingerprint"]
            for r in self.records()
            if r["tier"] == tier and r["status"] == "done"
        }

    def mark(self, **record) -> None:
        record.setdefault("ts", time.time())
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())


def _per_partition_stats(df: DataFrame, partition_col: str) -> dict:
    """Per-partition (rows, fingerprint): fingerprint is the order-
    insensitive sum (mod 2^63) of per-row xxhash64 over the data columns —
    ONE groupBy job, no collect of data rows, one tiny row per partition.
    Per-partition (not whole-result) lineage is what lets resume detect
    drift in a single recomputed partition."""
    data_cols = [c for c in df.columns if c != partition_col]
    rows = (
        df.groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in data_cols]).cast("decimal(38,0)")
            ).alias("fp"),
        )
        .collect()
    )
    # str() the key: partition values read back from directory paths are
    # type-inferred (yyyy-MM-dd → DATE) while todo keys are strings
    return {
        str(r[partition_col]): (int(r["n"]), int(int(r["fp"] or 0) & ((1 << 63) - 1)))
        for r in rows
    }


def run_tier(
    spark: SparkSession,
    input_df: DataFrame,
    compute,  # (DataFrame) -> DataFrame : the tier transformation
    out_table: PartitionedTable,
    ckpt: CheckpointLog,
    job_id: str,
    tier: str,
    in_ts_col: str = "ts",
    out_ts_col: str = "window_start",
    partition_col: str = "part_key",
    verify_resume: bool = False,
    census: dict[str, int] | None = None,
    source_tier: str | None = None,
) -> dict:
    """Run one rollup tier with per-partition lineage + resume.

    The coarse partition key is the DAY of the event time — derived from
    `in_ts_col` on the input and `out_ts_col` on the output (a tier never
    maps an input day to a different output day for tiers ≤ 1d).

    census: {input partition: input rows}, exactly what a
    `groupBy(partition).count()` of the input returns. Pass it when the
    caller already holds it — a cascade tier's input is a whole
    PartitionedTable, whose `row_counts()` read it from the Parquet
    footers — and the tier launches no Spark job before its write.
    Without it, one groupBy job computes it.

    A partition whose newest record for (job_id, tier) is 'expired' is
    retired: retention dropped it on purpose, so it is neither computed,
    skipped nor audited.

    source_tier: the checkpointed tier the input is read from. Each record
    then also carries its source partition's newest fingerprint
    (`CheckpointLog.newest_fingerprints`), and a 'done' partition whose
    source has been rewritten with other content since is recomputed.
    Only for a tier its source's writers do not re-derive themselves (the
    Gorilla pack: refresh_engine re-merges 1m days but does not re-pack).

    verify_resume=True audits every 'done' partition before trusting it:
    the WRITTEN bytes are re-fingerprinted (one groupBy over the pruned
    read-back) and compared to the checkpoint record; any drifted or
    missing partition is demoted back to todo and recomputed. This is what
    per-partition fingerprints are FOR — a resume that detects silent
    table corruption instead of skipping over it.

    Returns {"computed": [...], "skipped": [...], "drifted": [...],
    "rows_out": n}.
    """
    inp = input_df.withColumn(
        partition_col, F.date_format(in_ts_col, "yyyy-MM-dd")
    )
    if census is None:
        census = {
            r[partition_col]: int(r["count"])
            for r in inp.groupBy(partition_col).count().collect()
        }
    latest = ckpt.latest_records(job_id, tier)
    source_fp = ckpt.newest_fingerprints(source_tier) if source_tier else {}
    parts = sorted(
        p for p in census
        if latest.get(p, {}).get("status") != "expired"
    )
    # done, and (with source_tier) made from the source's current content
    skipped = [
        p for p in parts
        if p in latest
        and latest[p].get("source_fingerprint") == source_fp.get(p)
    ]
    todo = [p for p in parts if p not in skipped]
    drifted: list[str] = []

    if verify_resume and skipped and out_table.exists():
        written = out_table.read().filter(
            F.col(partition_col).isin(skipped)
        )
        actual = _per_partition_stats(written, partition_col)
        # a legitimately-empty partition has NO group in the read-back
        # stats but was recorded as (0, 0) — default the read-back side
        # so it isn't flagged drifted (and recomputed) on every resume
        drifted = [
            p for p in skipped
            if actual.get(p, (0, 0))
            != (latest[p]["rows_out"], latest[p]["fingerprint"])
        ]
        if drifted:
            todo = sorted(todo + drifted)
            skipped = [p for p in skipped if p not in drifted]

    rows_out_total = 0
    if todo:
        run_id = uuid.uuid4().hex[:12]
        t0 = time.time()
        # partition-pruned input: the IN filter pushes to the scan
        pending = inp.filter(F.col(partition_col).isin(todo))
        result = compute(pending.drop(partition_col)).withColumn(
            partition_col, F.date_format(out_ts_col, "yyyy-MM-dd")
        )
        snapshot_id = out_table.overwrite_partitions(result)
        wall = time.time() - t0
        # stats from the WRITTEN bytes (read-back), not a recompute or a
        # .cache(): what's fingerprinted is exactly what resume would see
        # (and MemoryStore persists anti-scale on fault-convoy kernels)
        written = out_table.read().filter(F.col(partition_col).isin(todo))
        stats = _per_partition_stats(written, partition_col)
        out_table.annotate_snapshot(
            snapshot_id, {p: stats.get(p, (0, 0))[0] for p in todo}
        )
        for p in todo:
            n_out, fp = stats.get(p, (0, 0))
            # lineage contract: each record carries ITS partition's
            # metrics, not run-wide totals
            source = ({"source_fingerprint": source_fp.get(p)}
                      if source_tier else {})
            ckpt.mark(
                job_id=job_id, tier=tier, partition=p, run_id=run_id,
                rows_in=census[p], rows_out=n_out,
                fingerprint=fp, status="done", wall_s=round(wall, 3),
                **source,
            )
            rows_out_total += n_out
    return {"computed": todo, "skipped": skipped, "drifted": drifted,
            "rows_out": rows_out_total}
