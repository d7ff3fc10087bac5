"""Per-layer metrics of a traced pass, derived from its spans, the Spark
event log of the traced session and the pass's own results.

Every name in PER_LAYER is reported on every workload (0 where a layer did
no work, e.g. ``retention.partitions_dropped`` without retention).
"""

from __future__ import annotations

import pyarrow.dataset as ds

import spans as tr
from workload import ALL_QUERIES, SERVE_OPS, median_or_zero

TABLES = ("tier_1m", "tier_1h", "tier_1d", "tier_1m_gorilla")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "inputs.gen_s": "s",
    "pipeline.run_engine.self_s": "s",
    "pipeline.refresh_engine.self_s": "s",
    "pipeline.spark_jobs": "count",
    "rollup.raw_1m.plan_ms": "ms",
    "rollup.raw_1m.write_s": "s",
    "rollup.raw_1m.pyworker_cpu_s": "s",
    "rollup.raw_1m.jvm_cpu_s": "s",
    "rollup.raw_1m.shuffle_write_bytes": "B",
    "rollup.cascade_1h.write_s": "s",
    "rollup.cascade_1d.write_s": "s",
    "rollup.cascade.pyworker_cpu_s": "s",
    "rollup.refresh_tier.write_s": "s",
    "rollup.windows_over_k_share": "ratio",
    "checkpoint.run_tier_s.1m": "s",
    "checkpoint.run_tier_s.1h": "s",
    "checkpoint.run_tier_s.1d": "s",
    "checkpoint.prescan_s": "s",
    "checkpoint.readback_s": "s",
    "checkpoint.marks": "count",
    "checkpoint.mark_s": "s",
    "checkpoint.partitions_computed": "count",
    "checkpoint.partitions_skipped": "count",
    "checkpoint.partitions_drifted": "count",
    "checkpoint.resume_recompute_share": "ratio",
    **{f"storage.overwrite_s.{t}": "s" for t in TABLES},
    **{f"storage.files_written.{t}": "count" for t in TABLES},
    **{f"storage.bytes_written.{t}": "B" for t in TABLES},
    "compression.pack.write_s": "s",
    "compression.pack.pyworker_cpu_s": "s",
    "gorilla.bytes_per_point": "B/point",
    "compression.unpack_ms": "ms",
    "compression.stale_blobs": "count",
    "compression.stale_unpack_reads": "count",
    "gapfill.view.rows_out_per_in": "ratio",
    "gapfill.view.shuffle_bytes": "B",
    "gapfill.query_ms": "ms",
    "retention.expire_s": "s",
    "retention.partitions_dropped": "count",
    "tokens.position_stats_s": "s",
    "tokens.position_stats.pyworker_cpu_s": "s",
    "tokens.position_stats.input_bytes": "B",
    **{f"serve.{op}.{k}_ms": "ms" for op in SERVE_OPS
       for k in ("build", "exec")},
    **{f"queries.{q}.s": "s" for q in ALL_QUERIES},
    "queries.build_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "trace.pass_s": "s",
    "trace.instrumentation_s": "s",
    "trace.layer_self_s": "s",
    "trace.coverage": "ratio",
}


def layer_metrics(tracer: tr.Tracer, log: tr.EventLog, res, setup: dict,
                  inputs: dict, known: dict) -> dict[str, float]:
    spans = tracer.spans
    step = {s.name[5:]: s for s in spans if s.name.startswith("step.")}

    def within(root, prefix):
        if root is None:
            return []
        return [s for s in tracer.under(root) if s.name.startswith(prefix)]

    def groups(sps) -> set[int]:
        ids: set[int] = set()
        for s in sps:
            ids.update(x.id for x in tracer.under(s))
        return ids

    def total(sps) -> float:
        return sum(s.dur for s in sps)

    build, resume = step.get("build"), step.get("resume")
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["inputs.gen_s"] = setup["gen_s"]

    # pipeline
    pipe = tracer.named("pipeline.")
    for name in ("run_engine", "refresh_engine"):
        m[f"pipeline.{name}.self_s"] = sum(
            tracer.self_time(s) for s in pipe if s.name == f"pipeline.{name}")
    pipe_groups = groups(pipe)
    n_jobs = sum(1 for j in log.jobs.values() if j.group in pipe_groups)
    m["pipeline.spark_jobs"] = n_jobs / max(len(pipe), 1)

    # rollup: the tier writes run the rollup plans
    def tier_write(root, tier):
        return [w for t in within(root, f"checkpoint.run_tier.{tier}")
                for w in within(t, f"storage.overwrite.tier_{tier}")]

    raw_w = tier_write(build, "1m")
    m["rollup.raw_1m.plan_ms"] = total(
        within(build, "rollup.raw_1m.plan")) * 1e3
    m["rollup.raw_1m.write_s"] = total(raw_w)
    m["rollup.raw_1m.pyworker_cpu_s"] = sum(s.py_cpu_s for s in raw_w)
    m["rollup.raw_1m.jvm_cpu_s"] = sum(s.jvm_cpu_s for s in raw_w)
    m["rollup.raw_1m.shuffle_write_bytes"] = tr.task_totals(
        log, groups(raw_w))["shuffle_write"]
    casc = []
    for tier in ("1h", "1d"):
        ws = tier_write(build, tier)
        m[f"rollup.cascade_{tier}.write_s"] = total(ws)
        casc += ws
    m["rollup.cascade.pyworker_cpu_s"] = sum(s.py_cpu_s for s in casc)
    m["rollup.refresh_tier.write_s"] = total(
        [w for r in tracer.named("pipeline.refresh_engine")
         for w in within(r, "storage.overwrite.tier_1m")])
    m["rollup.windows_over_k_share"] = inputs["windows_over_k_share"]

    # checkpoint
    run_tiers = within(build, "checkpoint.run_tier") + within(
        resume, "checkpoint.run_tier")
    for tier in ("1m", "1h", "1d"):
        m[f"checkpoint.run_tier_s.{tier}"] = total(
            [s for s in run_tiers if s.name.endswith(tier)])
    # jobs launched by run_tier itself (outside read-back and writes): the
    # partition listing and the per-partition rows_in count
    direct = {s.id for s in run_tiers}
    m["checkpoint.prescan_s"] = sum(
        (j.end_ms - j.start_ms) / 1e3 for j in log.jobs.values()
        if j.group in direct and "checkpoint.py" in j.call_site)
    m["checkpoint.readback_s"] = total(tracer.named("checkpoint.readback"))
    marks = tracer.named("checkpoint.mark")
    m["checkpoint.marks"] = len(marks)
    m["checkpoint.mark_s"] = total(marks)
    for rep in (res.build_report, res.resume_report):
        for tier in ("1m", "1h", "1d"):
            r = rep.get(tier, {})
            m["checkpoint.partitions_computed"] += len(r.get("computed", []))
            m["checkpoint.partitions_skipped"] += len(r.get("skipped", []))
            m["checkpoint.partitions_drifted"] += len(r.get("drifted", []))
    done = sum(len(res.resume_report.get(t, {}).get("computed", []))
               for t in ("1m", "1h", "1d"))
    seen = done + sum(len(res.resume_report.get(t, {}).get("skipped", []))
                      for t in ("1m", "1h", "1d"))
    m["checkpoint.resume_recompute_share"] = done / seen if seen else 0.0

    # storage
    for t in TABLES:
        ws = [s for s in spans if s.name == f"storage.overwrite.{t}"]
        m[f"storage.overwrite_s.{t}"] = total(ws)
        m[f"storage.files_written.{t}"] = sum(s.attrs.get("files", 0) for s in ws)
        m[f"storage.bytes_written.{t}"] = sum(s.attrs.get("bytes", 0) for s in ws)

    # compression
    packs = tracer.named("storage.overwrite.tier_1m_gorilla")
    m["compression.pack.write_s"] = total(packs)
    m["compression.pack.pyworker_cpu_s"] = sum(s.py_cpu_s for s in packs)
    packed = ds.dataset(f"{res.base}/tier_1m_gorilla", format="parquet",
                        partitioning="hive").to_table(
                            columns=["blob", "n_points"])
    pts = sum(packed.column("n_points").to_pylist())
    m["gorilla.bytes_per_point"] = sum(
        len(b) for b in packed.column("blob").to_pylist()) / max(pts, 1)
    by_op = {op: [r for r in res.reads if r.op == op] for op in SERVE_OPS}
    m["compression.unpack_ms"] = median_or_zero(
        [r.ms for r in by_op["unpack_day"]])
    # known defect: refresh_engine leaves the packed days it touches stale
    m["compression.stale_blobs"] = known["stale_blobs"]
    m["compression.stale_unpack_reads"] = known["stale_unpack_reads"]

    # gap-fill
    obs = res.gapfill_obs or {}
    if obs:
        m["gapfill.view.rows_out_per_in"] = obs["rows"] / max(
            obs["rows"] - obs["gaps"], 1)
    m["gapfill.view.shuffle_bytes"] = tr.task_totals(
        log, groups(tracer.named("gapfill.view")))["shuffle_write"]
    m["gapfill.query_ms"] = median_or_zero([r.ms for r in by_op["gapfill_ma"]])

    # retention
    exp = tracer.named("retention.expire")
    m["retention.expire_s"] = total(exp)
    m["retention.partitions_dropped"] = sum(
        len(s.attrs.get("result") or []) for s in exp)

    # tokens
    ps = tracer.named("tokens.position_stats")
    m["tokens.position_stats_s"] = res.position_stats_s
    m["tokens.position_stats.pyworker_cpu_s"] = sum(s.py_cpu_s for s in ps)
    # Spark's task input metrics miss the bytes the Arrow scan reads, so
    # this is the size of the raw parquet the layer scans
    m["tokens.position_stats.input_bytes"] = inputs["raw_bytes"]

    # serve reads and registry queries
    for op, rs in by_op.items():
        m[f"serve.{op}.build_ms"] = median_or_zero([r.build_ms for r in rs])
        m[f"serve.{op}.exec_ms"] = median_or_zero([r.exec_ms for r in rs])
    for q, (b, e, _pdf) in res.registry.items():
        m[f"queries.{q}.s"] = b + e
    m["queries.build_ms"] = sum(b for b, _e, _p in res.registry.values()) * 1e3

    # Spark, over every job of the traced pass
    pass_groups = groups([s for s in spans if s.parent is None])
    tot = tr.task_totals(log, pass_groups)
    m["spark.executor_run_s"] = tot["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9
    m["spark.gc_s"] = tot["gc_ms"] / 1e3
    m["spark.shuffle_read_bytes"] = tot["shuffle_read"]
    m["spark.shuffle_write_bytes"] = tot["shuffle_write"]
    m["spark.spill_bytes"] = tot["spill"]
    m["spark.tasks"] = tot["tasks"]
    m["spark.task_skew"] = tr.task_skew(log, pass_groups)

    # how much of the pass the layer spans account for; the rest is the
    # benchmark's own code between calls (step spans' self time)
    layer_self = sum(tracer.self_time(s) for s in spans
                     if not s.name.startswith("step."))
    m["trace.pass_s"] = res.total_s
    m["trace.instrumentation_s"] = tracer.bookkeeping_s
    m["trace.layer_self_s"] = layer_self
    m["trace.coverage"] = layer_self / res.total_s
    return {k: float(v) for k, v in m.items()}
