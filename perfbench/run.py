"""Benchmark of the tods_spark rollup engine.

    python3 perfbench/run.py --workload build_dense --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts Spark (``local[<cores this
process may use>]``, one pinned heap) and warms it up, generates the
workload's inputs from the seed, runs one timed pass (workload.py), checks
every output (checks.py) and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. ``failed / attempted`` is
the run's error rate. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` Spark writes its event log, the pass runs inside
spans (spans.py) and the metrics are the per-layer ones (layers.py); the
tracing overhead is the traced run's ``trace.pass_s`` minus the ``pass_s``
an untraced run of the same seed prints. The run writes only under
``.perfbench_work/`` in the current directory, and removes all of it but
a traced run's spans before it exits.

``--plant-wrong-tier`` corrupts one stored 1h aggregate before the checks,
to show that a wrong answer is caught (the run then reports correct=false).
See WORKLOADS.md for what each workload exercises.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "rollup_points_per_s": "points/s",
    "resume_s": "s",
    "gapfill_view_s": "s",
    "stored_bytes_per_point": "B/point",
    "refresh_p50_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "suite_s": "s",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rpartition(")")[2].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> int:
    """Spark's environment, set before the JVM starts: cores from this
    process's CPU affinity, one pinned heap, the repo on the Python
    workers' path, scratch space inside the run's work dir."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores


def start_spark(event_log: str | None = None):
    from tods_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_up(spark) -> None:
    """Spawn the Python workers (one task per core) and import the engine's
    UDF modules in them. Code generation and class loading stay in the
    timed steps: a batch session (run_job.py) pays them on every run."""
    cores = spark.sparkContext.defaultParallelism

    def touch(batches):
        import tods_spark.functions.gorilla  # noqa: F401
        import tods_spark.functions.sketches  # noqa: F401

        yield from batches

    spark.range(0, cores, numPartitions=cores).mapInPandas(
        touch, "id long").collect()


def setup(event_log: str | None):
    """Start Spark and warm it up; return the session and its timings.

    ``setup_s`` runs from process start (interpreter, imports, JVM launch,
    ``get_spark``, its first job) to the end of the warm-up, before any
    input is generated. One full setup costs 11-14 s on the 4-vCPU VM
    measured, so a run makes only one (WORKLOADS.md)."""
    t_proc = process_age_s()
    spark = start_spark(event_log)
    spark.range(1).count()
    t_start = process_age_s()
    warm_up(spark)
    setup_s = process_age_s()
    return spark, {"setup_s": setup_s, "start_s": t_start - t_proc,
                   "warmup_s": setup_s - t_start}


def environment(spark, cores: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "default_parallelism": sc.defaultParallelism,
        "cores": cores,
        "heap": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def input_properties(tok) -> dict:
    """Measured shape of the raw input: what each workload claims to stress."""
    import duckdb
    from inputs import LATE_DOCS

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    r = con.sql(f"""
      WITH w AS (
        SELECT source, time_bucket(INTERVAL '1 minute', ts) AS w, count(*) AS n
        FROM read_parquet('{tok.raw_path}') GROUP BY 1, 2),
      s AS (
        SELECT source, (epoch(max(w)) - epoch(min(w))) / 60 + 1 AS slots,
               count(*) AS obs FROM w GROUP BY 1)
      SELECT (SELECT sum(n) FROM w), (SELECT count(*) FROM w),
             (SELECT avg(CAST(n > 65 AS DOUBLE)) FROM w),
             (SELECT sum(n) FILTER (WHERE n > 65) / sum(n) FROM w),
             (SELECT 1 - sum(obs) / sum(slots) FROM s)
    """).fetchone()
    return {
        "raw_rows": int(r[0]), "windows_1m": int(r[1]),
        "windows_over_k_share": float(r[2]),
        "rows_in_windows_over_k_share": float(r[3] or 0.0),
        "day_partitions": len(tok.days),
        "day_partitions_kept_1m": len(tok.stored_days),
        "gap_share_1m": float(r[4]),
        "late_rows_per_batch": LATE_DOCS,
        "raw_bytes": os.path.getsize(tok.raw_path),
    }


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. A run makes too few reads for that unless the pass
    is long, so with 20 reads or fewer it is the nearest-rank p90, which
    a single slow read cannot move."""
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        k = max(math.ceil(0.9 * n) - 1, 0)
        return xs[k], 100.0 * (k + 1) / n
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(res, setup_info: dict, peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics of an untraced pass; a step that failed reads
    0 (and the run is not correct)."""
    from workload import median_or_zero

    q_ms = [r.ms for r in res.reads]
    tail_ms, tail_pct = tail(q_ms) if q_ms else (0.0, 0.0)
    m = {
        "setup_s": setup_info["setup_s"],
        "build_s": res.build_s,
        "rollup_points_per_s": res.points / res.build_s,
        "resume_s": res.resume_s,
        "gapfill_view_s": res.gapfill_view_s,
        "stored_bytes_per_point": res.stored_bytes / max(res.stored_points, 1),
        "refresh_p50_s": median_or_zero(res.refresh_s),
        "query_p50_ms": median_or_zero(q_ms),
        "query_tail_ms": tail_ms,
        "suite_s": res.suite_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    notes = {"query_tail_percentile": round(tail_pct, 1),
             "query_reads": len(q_ms), "refresh_batches": len(res.refresh_s),
             "rollup_points": res.points, "stored_points": res.stored_points}
    return m, notes


def check(res, tok, reg_dir: str) -> tuple[int, list[str], dict]:
    """Untimed output checks; returns (operations attempted, failures,
    known-defect counts). Each failure reads "<operation>: <what>"; an
    operation counts once in ``failed`` however many of its checks fail.

    Known defect, counted and reported but not a failure: refresh_engine
    does not re-pack tier_1m_gorilla, so the packed series of the days a
    late batch touched, and the ``unpack_day`` reads of them, stay as
    built. Every other difference from the fresh data fails."""
    import checks

    applied = [tok.late_paths[b] for b in res.refreshed]
    refreshed_days = {d for b in res.refreshed for d in tok.late_days[b]}
    fails: list[str] = list(res.errors)
    raw = [tok.raw_path] + applied
    for tier, days in checks.tier_mismatches(
            res.base, raw, set(tok.stored_days)).items():
        if days - refreshed_days:
            fails.append(f"build: tier {tier} differs on {sorted(days)}")
        for b in res.refreshed:
            if days & set(tok.late_days[b]):
                fails.append(f"refresh late{b}: tier {tier} differs")
    for tier, n in checks.digest_mismatches(res.base, raw).items():
        fails.append(f"build: {n} {tier} digests wrong")
    truth = checks.PackedTruth(tok.raw_path, applied)
    blobs = checks.gorilla_blobs(res.base, truth)
    if blobs["bad"]:
        fails.append(f"build: {blobs['bad']} Gorilla blobs differ from the 1m tier")
    unpacks = [checks.unpack_kind(r, truth) if r.op == "unpack_day" else None
               for r in res.reads]
    n = checks.checkpoint_mismatches(res.base)
    if n:
        fails.append(f"resume: {n} checkpoint rows_out differ from the tier")
    if res.position_stats_out is None or not checks.position_stats_ok(
            res.position_stats_out, tok.raw_path):
        fails.append("position_stats: output differs from DuckDB")
    if not res.gapfill_obs or not checks.gapfill_view_ok(
            res.gapfill_obs, tok.raw_path, set(tok.stored_days)):
        fails.append("gapfill_view: row counts differ from the tier")
    fails += [f"read {i} ({r.op} {r.source} {r.day}): bad result"
              for i, (r, kind) in enumerate(zip(res.reads, unpacks))
              if kind == "bad" or (kind is None and not checks.read_ok(r))]
    fails += [f"queries.{q}: differs from its DuckDB twin"
              for q in checks.registry_failures(res.registry, reg_dir)]
    attempted = 4 + len(res.refresh_s) + len(res.reads) + len(res.queries)
    known = {"stale_blobs": blobs["stale"],
             "stale_unpack_reads": unpacks.count("stale"),
             "unpack_reads": len(unpacks) - unpacks.count(None)}
    return attempted, fails, known


def run(args, work: str) -> dict:
    import inputs
    import spans
    from workload import REGISTRY, Pass

    cores = configure_env(work)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark, setup_info = setup(log_dir)
    reg_dir = inputs.REGISTRY_DIR
    tracer = spans.Tracer(spark, uuid.uuid4().hex[:12]) if args.trace else None
    try:
        t0 = time.perf_counter()
        tok = inputs.token_inputs(args.workload, args.seed, work)
        setup_info["gen_s"] = time.perf_counter() - t0
        env = environment(spark, cores)
        props = input_properties(tok)
        p = Pass(spark, tok, reg_dir, REGISTRY[args.workload],
                 os.path.join(work, "tree"), args.seconds, args.seed, tracer)
        with spans.RssSampler() as rss, (
                spans.patched_engine(tracer) if tracer
                else contextlib.nullcontext()):
            res = p.run()
    finally:
        # stopping the session also flushes the event log
        stop_spark(spark)
    if args.plant_wrong_tier:
        import checks

        print(f"planted a wrong cnt in {checks.plant_wrong_tier_value(res.base)}")

    t_check = time.perf_counter()
    attempted, fails, known = check(res, tok, reg_dir)
    failed = len({f.split(":")[0] for f in fails})
    notes = {"check_s": time.perf_counter() - t_check, "pass_s": res.total_s,
             "gen_s": setup_info["gen_s"], "known_defect": known}
    if args.trace:
        import layers

        tracer.write(os.path.join(os.path.dirname(work),
                                  f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = layers.layer_metrics(tracer, spans.read_event_log(log_dir),
                                       res, setup_info, props, known)
        units = layers.PER_LAYER
    else:
        metrics, more = end_to_end(res, setup_info, rss.peak)
        notes.update(more)
        units = END_TO_END

    print(json.dumps({"environment": env, "inputs": props, "notes": notes}))
    for name, unit in units.items():
        print(f"{name:44s} {metrics[name]:>16.6g} {unit}")
    print(f"{'error_rate':44s} {failed / attempted:>16.6g} ratio "
          f"({failed} of {attempted} operations)")
    if known["stale_blobs"] or known["stale_unpack_reads"]:
        print(f"KNOWN DEFECT refresh_engine does not re-pack tier_1m_gorilla: "
              f"{known['stale_blobs']} packed series and "
              f"{known['stale_unpack_reads']} of {known['unpack_reads']} "
              f"unpack_day reads still hold the pre-refresh values")
    for f in fails:
        print("FAILED", f)
    return {
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-tier", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tods_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
