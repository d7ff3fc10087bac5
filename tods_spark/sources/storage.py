"""Iceberg-style table storage over plain Parquet.

The sandbox has no Iceberg runtime jar, so this module provides the same
API shape behind one interface (SURVEY.md §7 "Iceberg in sandbox"): a
partitioned table with ATOMIC per-partition overwrite and a manifest. On a
real cluster the implementation swaps to `df.writeTo(tbl).overwritePartitions()`
— call sites don't change.

Atomicity in the parquet emulation comes from Spark's dynamic partition
overwrite (`spark.sql.sources.partitionOverwriteMode=dynamic`): only the
partitions present in the written DataFrame are replaced, others untouched;
a failed job leaves old partition data in place (staging dir committed per
partition by the output committer).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _partition_values(p: str) -> dict[str, str | None]:
    """{column: value} of a partition dir path ("day=3/hour=4"). Hive
    escapes special chars as %XX and spells SQL NULL as
    __HIVE_DEFAULT_PARTITION__ — unescape so filters and joins match the
    actual column values, not the dir names."""
    from urllib.parse import unquote

    out = {}
    for seg in p.split(os.sep):
        col, _, val = seg.partition("=")
        out[col] = (None if val == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(val))
    return out


class PartitionedTable:
    """A partitioned Parquet table with Iceberg-like partition overwrite."""

    def __init__(self, spark: SparkSession, path: str, partition_cols: list[str]):
        self.spark = spark
        self.path = path
        self.partition_cols = partition_cols

    def exists(self) -> bool:
        return os.path.exists(self.path) and any(
            not f.startswith("_") for f in os.listdir(self.path)
        )

    def overwrite_partitions(self, df: DataFrame,
                             partitions: dict | None = None) -> str:
        """Replace exactly the partitions present in `df` (idempotent: a
        re-run of the same partition converges to the same state), and
        append a snapshot record to the manifest log — the Iceberg-style
        commit history. Pass `partitions` ({partition value: row count})
        when the caller already computed per-partition stats (run_tier
        does, from its read-back) — the write path itself NEVER recomputes
        `df` for bookkeeping."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_cols)
            .parquet(self.path)
        )
        return self._append_snapshot(
            op="overwrite_partitions",
            partitions=dict(partitions) if partitions else None,
        )

    def _append_snapshot(self, **record) -> str:
        import json
        import time
        import uuid

        record.setdefault("snapshot_id", uuid.uuid4().hex[:16])
        record.setdefault("ts", time.time())
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_manifest.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        return record["snapshot_id"]

    def annotate_snapshot(self, snapshot_id: str, partitions: dict) -> None:
        """Append-only stats record for a committed snapshot (callers that
        compute per-partition counts AFTER the commit — run_tier does, from
        its read-back — attach them here instead of recomputing the input
        inside the write path)."""
        self._append_snapshot(op="stats", for_snapshot=snapshot_id,
                              partitions=dict(partitions))

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (empty for never-written tables)."""
        import json

        mf = os.path.join(self.path, "_manifest.jsonl")
        if not os.path.exists(mf):
            return []
        with open(mf) as f:
            return [json.loads(line) for line in f if line.strip()]

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy(*self.partition_cols).parquet(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def partitions(self) -> list[dict]:
        """Manifest view: list partition value dicts currently in the table."""
        if not self.exists():
            return []
        rows = self.read().select(*self.partition_cols).distinct().collect()
        return [r.asDict() for r in rows]

    def _data_files(self):
        """(partition dir, [parquet file paths]) per leaf partition."""
        for root, _dirs, files in os.walk(self.path):
            data = [os.path.join(root, f) for f in files
                    if not f.startswith(("_", ".")) and f.endswith(".parquet")]
            if data:
                yield os.path.relpath(root, self.path), data

    def file_report(self) -> list[dict]:
        """(partition dir, n_files, bytes) per leaf partition — the input to
        a compaction decision. Filesystem metadata only, no Spark job."""
        out = [
            {"partition": part, "n_files": len(data),
             "bytes": sum(os.path.getsize(f) for f in data)}
            for part, data in self._data_files()
        ]
        return sorted(out, key=lambda r: r["partition"])

    def row_counts(self) -> dict:
        """{partition value: rows} of a table partitioned by one column,
        summed from the Parquet footers — filesystem metadata only, no
        Spark job. Equals a groupBy(partition).count() of `read()`: a
        partition holding no rows is absent."""
        import pyarrow.parquet as pq

        (col,) = self.partition_cols
        counts = {}
        for part, data in self._data_files():
            n = sum(pq.read_metadata(f).num_rows for f in data)
            if n:
                counts[_partition_values(part)[col]] = n
        return counts

    def compact(self, target_bytes: int = 128 * 1024 * 1024,
                min_files: int = 2) -> dict:
        """Iceberg-style small-file compaction: rewrite every partition
        whose file count exceeds `min_files` into ceil(bytes/target_bytes)
        files, via the same atomic dynamic partition overwrite the tier
        writes use. Partitions already compact are left untouched (their
        bytes are never read). Returns {partition: files_before} for the
        rewritten set and logs a `compact` snapshot.

        At scale this is the maintenance pass that keeps a year of 1m-tier
        partitions from accumulating one file per micro-run: scan cost is
        bounded by the SELECTED partitions, not the table."""
        from functools import reduce

        from pyspark.sql import functions as F

        def n_target(r: dict) -> int:
            return max(1, -(-r["bytes"] // target_bytes))

        report = {r["partition"]: r for r in self.file_report()}
        # convergence: a partition is compaction-worthy only when its file
        # count exceeds BOTH min_files and its own byte-proportional target
        # ceil(bytes/target_bytes) — a big partition correctly split into
        # ceil(bytes/target) files is NOT rewritten again, so repeated
        # maintenance passes are no-ops once the table is compact
        todo = {
            p: r for p, r in report.items()
            if r["n_files"] > max(min_files, n_target(r))
        }
        if not todo:
            return {}
        df = self.read()

        # partition dir names are col=value; select the todo set with an OR
        # of per-partition AND-conjunctions (NOT per-column isin sets: those
        # select the CROSS PRODUCT of values and dynamic overwrite would
        # silently rewrite untouched partitions outside the todo set)
        def part_cond(p: str):
            return reduce(
                lambda a, b: a & b,
                [
                    F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                    for c, v in _partition_values(p).items()
                ],
            )

        conds = reduce(lambda a, b: a | b, [part_cond(p) for p in todo])
        selected = df.filter(conds)
        # files per partition dir = ceil(THAT partition's bytes / target):
        # a per-partition salt modulus, broadcast-joined on the partition
        # cols, so small fragmented partitions collapse to 1 file while an
        # oversized one splits into exactly its own ceil(bytes/target)
        cols = [df.schema[c].dataType for c in self.partition_cols]
        nout_rows = [
            tuple(_partition_values(p)[c] for c in self.partition_cols)
            + (n_target(r),)
            for p, r in todo.items()
        ]
        nout_df = self.spark.createDataFrame(
            nout_rows, [*self.partition_cols, "__nout__"]
        ).select(
            *[
                F.col(c).cast(t).alias(c)
                for c, t in zip(self.partition_cols, cols)
            ],
            F.col("__nout__").cast("int"),
        )
        salted = selected.join(
            F.broadcast(nout_df),
            on=[
                selected[c].eqNullSafe(nout_df[c])
                for c in self.partition_cols
            ],
            how="inner",
        ).drop(*[nout_df[c] for c in self.partition_cols]).withColumn(
            "__salt__",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                   F.col("__nout__").cast("bigint")),
        )
        compacted = salted.repartition(
            *self.partition_cols, "__salt__"
        ).drop("__salt__", "__nout__")
        (
            compacted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_cols)
            .parquet(self.path)
        )
        self._append_snapshot(
            op="compact",
            partitions={p: r["n_files"] for p, r in todo.items()},
        )
        return {p: r["n_files"] for p, r in todo.items()}
