"""End-to-end and per-layer metrics from one run's records and spans."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import busy_s

END_TO_END = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}

# layer metric -> unit; a workload that bypasses a layer reports 0
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "spark.unattributed_jobs": "count",
    "trace.overhead_s": "s",
    "pip_join.call_s": "s",
    "pip_join.call_jobs": "count",
    "pip_join.exec_s": "s",
    "pip_join.jobs": "count",
    "pip_join.task_run_s": "s",
    "pip_join.task_cpu_s": "s",
    "pip_join.udf_s": "s",
    "pip_join.shuffle_write_mb": "MB",
    "pip_join.spill_mb": "MB",
    "pip_join.input_rows": "count",
    "pip_join.refine_pass_ratio": "ratio",
    "pip_join.memo_hit_ratio": "ratio",
    "tiles.self_s": "s",
    "geo.encode_s": "s",
    "knn_join.call_s": "s",
    "knn_join.exec_s": "s",
    "knn_join.jobs": "count",
    "knn_join.stages": "count",
    "knn_join.slot_util": "ratio",
    "textdedup.exec_s": "s",
    "textdedup.jobs": "count",
    "textdedup.shuffle_write_mb": "MB",
    "textdedup.verified_ratio": "ratio",
    "sources.exec_s": "s",
    "sources.udf_s": "s",
    "sources.task_cpu_s": "s",
    "manifest.write_s": "s",
    "manifest.verify_s": "s",
    "manifest.jobs": "count",
    "manifest.resume_skip_ratio": "ratio",
    "tables.compact_s": "s",
    "tables.commits": "count",
    "tables.bytes_written_mb": "MB",
    "tables.files_written": "count",
    "tables.tombstone_rows": "count",
    "tables.write_amp": "ratio",
    "tables.space_amp": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.batch_p50_s": "s",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def quantile(xs, q: int) -> float:
    """The q-th decile (q=5 is the median) by linear interpolation."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[q - 1])


def end_to_end(setup: list[float], records: list[dict], peak_rss_mb: float) -> dict:
    lat = [r["dt"] for r in records]
    return {
        "setup_s": _med(setup),
        "throughput_rows_per_s": sum(r["rows"] for r in records) / sum(lat),
        "op_p50_s": quantile(lat, 5),
        "op_p90_s": quantile(lat, 9),
        "peak_rss_mb": peak_rss_mb,
    }


def _du(path: str, suffix: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, counting names ending in ``suffix``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def per_layer(wl, tr, records: list[dict], session_s: list[float], floor: int) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    stats = {id(s): tr.span_stats(s) for s in tr.spans}
    by = defaultdict(list)
    for s in tr.spans:
        by[s.name].append(s)

    def dur(name):
        return _med(s.dur for s in by[name])

    def stat(name, key):
        return _med(stats[id(s)][key] for s in by[name])

    def total(names, key):
        return sum(stats[id(s)][key] for n in names for s in by[n])

    m["session.start_s"] = _med(session_s)

    ops = [o for o in tr.ops if "t1" in o]
    ost = [tr.op_stats(o) for o in ops]
    m["spark.jobs_per_op"] = _med(st["jobs"] for st in ost)
    m["spark.stages_per_op"] = _med(st["stages"] for st in ost)
    m["spark.driver_gap_s"] = _med(
        (o["t1"] - o["t0"]) - busy_s(st["intervals"], o["t0"], o["t1"]) for o, st in zip(ops, ost)
    )
    m["spark.slot_util"] = _ratio(sum(st["task_run_s"] for st in ost),
                                  sum(o["t1"] - o["t0"] for o in ops) * tr.cores)
    m["spark.unattributed_jobs"] = tr.unattributed_jobs(floor)
    m["trace.overhead_s"] = _med(r["dt"] for r in records if r["traced"]) - _med(
        r["dt"] for r in records if not r["traced"]
    )

    if by["pip_join.call"]:
        m["pip_join.call_s"] = dur("pip_join.call")
        m["pip_join.call_jobs"] = stat("pip_join.call", "jobs")
        m["pip_join.exec_s"] = dur("pip_join.exec")
        for k in ("jobs", "task_run_s", "task_cpu_s", "shuffle_write_mb", "spill_mb", "input_rows"):
            m[f"pip_join.{k}"] = stat("pip_join.exec", k)
        m["pip_join.udf_s"] = _med(s.udf_s for s in by["pip_join.exec"])
        rin = sum(s.plan["refine"][0] for s in by["tiles.action"])
        m["pip_join.refine_pass_ratio"] = _ratio(sum(s.plan["refine"][1] for s in by["tiles.action"]), rin)
        hits = [r["notes"]["memo_hit"] for r in records]
        m["pip_join.memo_hit_ratio"] = _ratio(sum(hits), len(hits))
        exec_by_op = {s.op: s.dur for s in by["pip_join.exec"]}
        m["tiles.self_s"] = _med(s.dur - exec_by_op[s.op] for s in by["tiles.action"] if s.op in exec_by_op)
        m["geo.encode_s"] = dur("geo.encode")

    if by["knn_join.call"]:
        knn = ("knn_join.call", "knn_join.exec")
        m["knn_join.call_s"] = dur("knn_join.call")
        m["knn_join.exec_s"] = dur("knn_join.exec")
        n_ops = len(by["knn_join.call"])
        m["knn_join.jobs"] = total(knn, "jobs") / n_ops
        m["knn_join.stages"] = total(knn, "stages") / n_ops
        m["knn_join.slot_util"] = _ratio(total(knn, "task_run_s"),
                                         sum(s.dur for n in knn for s in by[n]) * tr.cores)
    if by["textdedup.exec"]:
        m["textdedup.exec_s"] = dur("textdedup.exec")
        m["textdedup.jobs"] = stat("textdedup.exec", "jobs")
        m["textdedup.shuffle_write_mb"] = stat("textdedup.exec", "shuffle_write_mb")
        m["textdedup.verified_ratio"] = _ratio(sum(s.plan["verify"][1] for s in by["textdedup.exec"]),
                                               sum(s.plan["verify"][0] for s in by["textdedup.exec"]))

    if by["sources.exec"]:
        m["sources.exec_s"] = dur("sources.exec")
        m["sources.udf_s"] = _med(s.udf_s for s in by["sources.exec"])
        m["sources.task_cpu_s"] = stat("sources.exec", "task_cpu_s")
        mf = ("manifest.write", "manifest.resume", "manifest.verify")
        cycles = len(by["manifest.write"])  # traced cycles
        m["manifest.write_s"] = dur("manifest.write")
        m["manifest.verify_s"] = dur("manifest.verify")
        m["manifest.jobs"] = total(mf, "jobs") / cycles
        m["manifest.resume_skip_ratio"] = _med(
            o["notes"]["resume_skip_ratio"] for o in ops if "resume_skip_ratio" in o["notes"]
        )
        m["tables.compact_s"] = dur("tables.compact")
        progress = [o["notes"]["progress"] for o in ops if "progress" in o["notes"]]
        m["streaming.drain_s"] = dur("streaming.drain")
        m["streaming.batches"] = _med(len(p) for p in progress)
        m["streaming.jobs_per_batch"] = _ratio(total(["streaming.drain"], "jobs"), sum(len(p) for p in progress))
        m["streaming.batch_p50_s"] = _med(d for p in progress for d in p)
        table_mb = total(("streaming.drain", "tables.compact"), "output_mb") / cycles
        m["tables.bytes_written_mb"] = table_mb

        table_b, table_files = _du(wl.table_dir, ".parquet")
        cycles_run = sum(1 for r in records if r["name"] == "compact")
        m["tables.commits"] = _ratio(len(wl.history()), cycles_run)
        m["tables.files_written"] = _ratio(table_files, cycles_run)
        m["tables.tombstone_rows"] = wl.tombstones()
        live_mb = wl.live_bytes() / 2**20
        out_mb = _med(_du(os.path.join(d, "data"), ".parquet")[0] for d in wl.out_dirs()) / 2**20
        m["tables.write_amp"] = _ratio(total(mf, "output_mb") / cycles + table_mb, live_mb + out_mb)
        m["tables.space_amp"] = _ratio(table_b / 2**20, live_mb)
    return m
