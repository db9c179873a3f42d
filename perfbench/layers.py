"""Per-layer metrics from a traced run (``--trace 1``).

The traced loop runs in a fresh JVM with Spark's event log on. Each
metric is measured from outside the engine (see perfbench/trace.py) and
is reported per job of the traced loop unless it says otherwise. Layer
names are the engine's module names; a layer idle on a workload reports
0. The arrow is the end-to-end metric each layer should move, and on
which workload (E = extract_checkpointed, D = dedup_near_dup):

  session.*                            → setup_s (E, D)
  sources.media, operators.ocr_core,
  functions.emission, operators.ocr    → docs_per_s (E), peak_rss_mb (E)
  operators.explode, operators.postpass→ docs_per_s (E), peak_rss_mb (E)
  plans.pipeline, plans.checkpoint,
  sources.tableio                      → docs_per_s (E)
  operators.dedup, operators.components,
  caching                              → docs_per_s (D), peak_rss_mb (D)

Each family should leave the other workload unchanged.

The per-page kernel timings (resolve, decode, emit) are single-threaded
calls in the driver over the workload's pages, after the loop.
``operators.ocr.boundary_s`` is the OCR stage's task time minus
pages × (resolve + decode + emit): the Arrow build, serialization and
worker-boundary share of the stage. ``operators.ocr.worker_start_s`` is
Spark's own "time to start/initialize Python workers" of the MapInArrow
node, summed over tasks (it overlaps task time).

For the extraction workload the table partitions each checkpoint
group's wall time — from the previous commit's return (or the
run_checkpointed call) to this commit's return — by event-log and
wrapper timestamps: plan construction (extract(), physical planning,
driver time between the write's stage jobs), the labelled Spark jobs,
and commit bookkeeping (output commit, read-back planning, manifest).
``plans.checkpoint.driver_frac`` is the share with no Spark job running.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.trace import (
    EventLog,
    classify_extraction_task,
    event_log_conf,
    skew,
    union_s,
)

__all__ = ["traced_run", "PER_LAYER"]

# every per-layer metric: (unit, which direction is better), in print
# order; work counts fixed by the input count "lower" (less work)
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "session.first_build_s": ("s", "lower"),
    "sources.media.resolve_ms_per_page": ("ms", "lower"),
    "operators.ocr_core.decode_ms_per_page": ("ms", "lower"),
    "functions.emission.emit_ms_per_page": ("ms", "lower"),
    "functions.emission.rows_per_page": ("rows", "lower"),
    "operators.ocr.task_s": ("s", "lower"),
    "operators.ocr.cpu_s": ("s", "lower"),
    "operators.ocr.worker_start_s": ("s", "lower"),
    "operators.ocr.boundary_s": ("s", "lower"),
    "operators.ocr.task_skew": ("ratio", "lower"),
    "operators.ocr.pages_in": ("count", "lower"),
    "operators.ocr.rows_out": ("count", "lower"),
    "operators.ocr.pages_quarantined": ("count", "lower"),
    "operators.explode.task_s": ("s", "lower"),
    "operators.explode.rows_out": ("count", "lower"),
    "operators.postpass.task_s": ("s", "lower"),
    "operators.postpass.spill_bytes": ("bytes", "lower"),
    "operators.postpass.gc_s": ("s", "lower"),
    "operators.postpass.task_skew": ("ratio", "lower"),
    "plans.pipeline.construct_s": ("s", "lower"),
    "plans.pipeline.shuffle_write_bytes": ("bytes", "lower"),
    "plans.checkpoint.input_read_ratio": ("ratio", "lower"),
    "plans.checkpoint.groups_run": ("count", "lower"),
    "plans.checkpoint.groups_skipped": ("count", "higher"),
    "plans.checkpoint.group_s_p50": ("s", "lower"),
    "plans.checkpoint.group_s_p90": ("s", "lower"),
    "plans.checkpoint.resume_s": ("s", "lower"),
    "plans.checkpoint.driver_frac": ("ratio", "lower"),
    "sources.tableio.commit_s": ("s", "lower"),
    "sources.tableio.write_s": ("s", "lower"),
    "sources.tableio.readback_s": ("s", "lower"),
    "sources.tableio.jobs_per_commit": ("count", "lower"),
    "sources.tableio.committed_groups_s": ("s", "lower"),
    "operators.dedup.task_s": ("s", "lower"),
    "operators.dedup.signature_scans": ("count", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verified_pairs": ("count", "lower"),
    "operators.dedup.verify_yield": ("ratio", "higher"),
    "operators.dedup.shuffle_write_bytes": ("bytes", "lower"),
    "operators.dedup.task_skew": ("ratio", "lower"),
    "operators.components.s": ("s", "lower"),
    "operators.components.edges": ("count", "lower"),
    "operators.components.jobs": ("count", "lower"),
    "caching.persisted_bytes": ("bytes", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _heaviest_skew(log: EventLog, tasks: list[dict]) -> float:
    """Skew of the layer's heaviest stage with at least two tasks."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    multi = [v for v in by_stage.values() if len(v) >= 2]
    return skew(max(multi, key=sum)) if multi else 0.0


def kernel_timings(pages: list[str], cap: int = 48) -> dict:
    """Single-threaded per-page kernel times over (a deterministic spread
    of at most ``cap`` of) well-formed ``pages``."""
    from tesseract_recognize_spark.config import ExtractConfig
    from tesseract_recognize_spark.functions.emission import emit_page_rows
    from tesseract_recognize_spark.operators.ocr_core import decode_raster
    from tesseract_recognize_spark.sources.media import resolve_media

    sample = pages[:: max(1, len(pages) // cap)][:cap]
    if not sample:
        return {"resolve": 0.0, "decode": 0.0, "emit": 0.0, "rows": 0.0}
    cfg = ExtractConfig()
    tr = td = te = 0.0
    rows = 0
    for ref in sample:
        t0 = time.perf_counter()
        raster = resolve_media(ref)
        t1 = time.perf_counter()
        page = decode_raster(raster)
        t2 = time.perf_counter()
        rows += len(emit_page_rows(page, cfg, 1, 1))
        t3 = time.perf_counter()
        tr, td, te = tr + t1 - t0, td + t2 - t1, te + t3 - t2
    n = len(sample)
    return {
        "resolve": 1000 * tr / n,
        "decode": 1000 * td / n,
        "emit": 1000 * te / n,
        "rows": rows / n,
    }


def _extraction(log: EventLog, jobs, counts, kernels, corpus_bytes,
                worker_cpu_s, m, table):
    n = len(jobs)
    t_lo = jobs[0].start
    commits, groups = [], []
    for res in jobs:
        calls = sorted(
            (s, e) for name, s, e in res.spans
            if name == "plans.checkpoint.run_checkpointed"
        )
        cs = sorted(
            (s, e) for name, s, e in res.spans
            if name == "sources.tableio.commit_group"
        )
        for c0, c1 in calls:
            prev = c0
            for s, e in cs:
                if not c0 <= s <= c1:
                    continue
                js = log.jobs_in("layer:sources.tableio.commit_group", s, e)
                wid = next(
                    j["sql"] for j in js
                    if j["sql"] in log.sql and log.sql[j["sql"]]["write"]
                )
                w = log.sql[wid]
                wj = sorted(
                    (j["start"], j["end"]) for j in js if j["sql"] == wid
                )
                rj = [(j["start"], j["end"]) for j in js if j["sql"] != wid]
                last_end = max(j["end"] for j in js)
                commits.append({
                    "commit_s": e - s,
                    "write_s": w["end"] - w["start"],
                    "readback_s": last_end - w["end"],
                    "jobs": len(js),
                })
                write_jobs, read_jobs = union_s(wj), union_s(rj)
                groups.append({
                    "wall": e - prev,
                    # driver: extract() and the group filter/sort
                    "plans.pipeline.construct": s - prev,
                    # driver: the write's analysis and physical planning
                    "plans.pipeline.physical_plan": w["start"] - s,
                    # driver, inside the write before/between its stage
                    # jobs: adaptive re-planning and stage code generation
                    "plans.pipeline.adaptive_replan": (
                        wj[-1][1] - w["start"] - write_jobs
                    ),
                    "jobs: sources.tableio.write": write_jobs,
                    # driver: output commit after the last write job
                    "sources.tableio.output_commit": w["end"] - wj[-1][1],
                    "jobs: sources.tableio.readback": read_jobs,
                    # driver: planning of the two read-back counts
                    "sources.tableio.readback_plan": (
                        last_end - w["end"] - read_jobs
                    ),
                    # manifest append + fsync
                    "sources.tableio.bookkeeping": e - last_end,
                })
                prev = e
    writes = {i for i, x in log.sql.items() if x["write"]}
    tasks = [
        t for t in log.tasks
        if log.task_group(t) == "layer:sources.tableio.commit_group"
        and log.task_sql(t) in writes
        and t["launch"] >= t_lo
    ]
    by_layer: dict[str, list[dict]] = {}
    for t in tasks:
        by_layer.setdefault(classify_extraction_task(log, t), []).append(t)
    ocr = by_layer.get("operators.ocr", [])
    exp = by_layer.get("operators.explode", [])
    post = by_layer.get("operators.postpass", [])
    per_page_ms = kernels["resolve"] + kernels["decode"] + kernels["emit"]
    ocr_task_s = sum(t["run_s"] for t in ocr) / n
    pages_in = sum(t["shuffle_read_records"] for t in ocr) / n
    worker_start_ms = sum(
        log.node_sum(t, "MapInArrow", name)
        for t in ocr
        for name in (
            "time to start Python workers",
            "time to initialize Python workers",
        )
    )
    m.update({
        "operators.ocr.task_s": ocr_task_s,
        "operators.ocr.cpu_s": (
            sum(t["cpu_s"] for t in ocr) + worker_cpu_s
        ) / n,
        "operators.ocr.worker_start_s": worker_start_ms / 1000 / n,
        "operators.ocr.boundary_s": ocr_task_s - pages_in * per_page_ms / 1000,
        "operators.ocr.task_skew": _heaviest_skew(log, ocr),
        "operators.ocr.pages_in": pages_in,
        "operators.ocr.rows_out": sum(
            log.node_sum(t, "MapInArrow", "number of output rows") for t in ocr
        ) / n,
        "operators.ocr.pages_quarantined": _median(
            c["pages_quarantined"] for c in counts
        ),
        "operators.explode.task_s": sum(t["run_s"] for t in exp) / n,
        "operators.explode.rows_out": sum(
            log.node_sum(t, "Generate", "number of output rows") for t in tasks
        ) / n,
        "operators.postpass.task_s": sum(t["run_s"] for t in post) / n,
        "operators.postpass.spill_bytes": sum(t["spill"] for t in post) / n,
        "operators.postpass.gc_s": sum(t["gc_s"] for t in post) / n,
        "operators.postpass.task_skew": _heaviest_skew(log, post),
        "plans.pipeline.construct_s": _median(
            g["plans.pipeline.construct"] for g in groups
        ),
        "plans.pipeline.shuffle_write_bytes": sum(
            t["shuffle_write_bytes"] for t in tasks
        ) / n,
        "plans.checkpoint.input_read_ratio": sum(
            t["input_bytes"] for t in tasks
        ) / n / corpus_bytes,
        "plans.checkpoint.groups_run": len(commits) / n,
        "plans.checkpoint.groups_skipped": sum(
            sum(r.skipped) for r in jobs
        ) / n,
        "sources.tableio.commit_s": _median(c["commit_s"] for c in commits),
        "sources.tableio.write_s": _median(c["write_s"] for c in commits),
        "sources.tableio.readback_s": _median(
            c["readback_s"] for c in commits
        ),
        "sources.tableio.jobs_per_commit": sum(
            c["jobs"] for c in commits
        ) / len(commits),
        "sources.tableio.committed_groups_s": _median(
            e - s for r in jobs for name, s, e in r.spans
            if name == "sources.tableio.committed_groups"
        ),
    })
    wall = sum(g["wall"] for g in groups)
    parts = [k for k in groups[0] if k != "wall"]
    named = {k: sum(g[k] for g in groups) for k in parts}
    named["unattributed"] = wall - sum(named.values())
    m["plans.checkpoint.driver_frac"] = 1 - (
        named["jobs: sources.tableio.write"]
        + named["jobs: sources.tableio.readback"]
    ) / wall
    table.append(
        f"# group wall time, {len(groups)} groups over {n} traced jobs: "
        f"{wall:.3f} s"
    )
    for k, v in named.items():
        table.append(f"#   {k:32s} {v:9.3f} s {100 * v / wall:6.1f}%")
    task_total = {k: sum(t["run_s"] for t in v) for k, v in by_layer.items()}
    table.append("# task seconds per job by layer (executor run time):")
    for k, v in sorted(task_total.items(), key=lambda kv: -kv[1]):
        table.append(f"#   {str(k or 'other'):32s} {v / n:9.3f} s")


def _dedup(log: EventLog, jobs, counts, m, table):
    n = len(jobs)
    t_lo = jobs[0].start
    tasks = [
        t for t in log.tasks
        if log.task_group(t).startswith("layer:operators.dedup.")
        and t["launch"] >= t_lo
    ]
    scans = {
        t["stage"] for t in tasks
        if t["input_bytes"] > 0
        and any(s.startswith("Scan") for s in log.scopes[t["stage"]])
    }
    cc_spans = [
        e - s for r in jobs for name, s, e in r.spans
        if name == "operators.components.connected_components"
    ]
    cc_jobs = [
        j for j in log.jobs.values()
        if j["group"] == "layer:operators.components.connected_components"
        and j["start"] >= t_lo
    ]
    verified = _median(r.extra.get("verified_pairs", 0) for r in jobs)
    candidates = _median(c["candidate_pairs"] for c in counts)
    m.update({
        "operators.dedup.task_s": sum(t["run_s"] for t in tasks) / n,
        "operators.dedup.signature_scans": len(scans) / n,
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.verify_yield": verified / candidates
        if candidates else 0.0,
        "operators.dedup.shuffle_write_bytes": sum(
            t["shuffle_write_bytes"] for t in tasks
        ) / n,
        "operators.dedup.task_skew": _heaviest_skew(log, tasks),
        "operators.components.s": _median(cc_spans),
        "operators.components.edges": verified,
        "operators.components.jobs": len(cc_jobs) / n,
    })
    table.append(f"# call wall time per job by layer, {n} traced jobs:")
    wall = sum(r.wall_s for r in jobs)
    names = sorted({name for r in jobs for name, _, _ in r.spans})
    covered = 0.0
    for name in names:
        v = sum(e - s for r in jobs for nm, s, e in r.spans if nm == name)
        covered += v
        table.append(f"#   {name:44s} {v / n:9.3f} s {100 * v / wall:6.1f}%")
    table.append(
        f"#   {'unattributed':44s} {(wall - covered) / n:9.3f} s "
        f"{100 * (wall - covered) / wall:6.1f}%"
    )


def traced_run(bench, plain: dict, setup_builds: list[float]):
    """Re-run the loop in a session with the event log on; returns
    (per-layer metrics with units, table lines, check results)."""
    from perfbench.run import summarize

    log_dir = os.path.join(bench.work, "events")
    os.makedirs(log_dir, exist_ok=True)
    bench.start_session(event_log_conf(log_dir))
    app_id = bench.spark.sparkContext.applicationId
    jobs, proc = bench.loop("traced", trace=True)
    bench.spark.stop()
    check = bench.check(jobs)
    extraction = hasattr(bench.wl, "pages")
    kernels = kernel_timings(
        [r for r in bench.wl.pages if r not in bench.wl.bad_refs]
        if extraction else []
    )
    log = EventLog(os.path.join(log_dir, app_id))
    traced = summarize(jobs)
    m = {k: 0.0 for k in PER_LAYER}
    m["session.build_s"] = statistics.median(setup_builds)
    m["session.first_build_s"] = setup_builds[0]
    m["sources.media.resolve_ms_per_page"] = kernels["resolve"]
    m["operators.ocr_core.decode_ms_per_page"] = kernels["decode"]
    m["functions.emission.emit_ms_per_page"] = kernels["emit"]
    m["functions.emission.rows_per_page"] = kernels["rows"]
    m["plans.checkpoint.group_s_p50"] = traced.get("group_s_p50", 0.0)
    m["plans.checkpoint.group_s_p90"] = traced.get("group_s_p90", 0.0)
    m["plans.checkpoint.resume_s"] = traced.get("resume_s", 0.0)
    m["caching.persisted_bytes"] = log.peak_persisted_bytes
    m["trace.overhead_frac"] = 1 - traced["docs_per_s"] / plain["docs_per_s"]
    table = [f"# per-layer table: {bench.wl.name} (traced)"]
    counts = check[3]
    if extraction:
        corpus = sum(
            os.path.getsize(os.path.join(bench.wl.input_dir, f))
            for f in os.listdir(bench.wl.input_dir)
        )
        _extraction(
            log, jobs, counts, kernels, corpus, proc.worker_cpu_s, m, table
        )
    else:
        _dedup(log, jobs, counts, m, table)
    return {k: (v, PER_LAYER[k][0]) for k, v in m.items()}, table, check
