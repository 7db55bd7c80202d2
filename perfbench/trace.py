"""The traced run's per-layer report.

Three span sources, all recorded from outside the package:

1. the benchmark's own spans: the Flow build, the query start and every sink
   call (``TimedSink``), plus batch *prefix actions* over the measured input
   files (scan, then + each layer of the chain); the difference between
   successive prefixes is that layer's self time on the same input;
2. every ``StreamingQueryProgress`` of the query (``durationMs`` phases and
   state-operator metrics), from the benchmark's own listener;
3. Spark's event log: jobs grouped by the job description the sink wrapper
   sets (``perfbench:sink:<batch>``), their tasks' metrics and the SQL
   operator metrics (Python worker times and bytes, aggregation build time,
   state-store times, shuffle write/fetch times).

Self time of the throughput window is attributed wall-clock: the engine's
phases outside ``addBatch`` and the foreachBatch dispatch around the sink
call; the sink call's time outside its Spark jobs; and each job's wall
time split across operator layers in proportion to their share of the job's
task time. ``trace.coverage`` is the attributed share of the window's wall
time; what no layer metric explains stays unattributed.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

from .stats import median

#: event-log accumulables (task "Update" values) summed per job, by name
_SQL = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
    "time in aggregation build": "agg_ms",
    "time to update": "state_update_ms",
    "time to commit changes": "state_commit_ms",
    "time to remove": "state_remove_ms",
    "scan time": "scan_ms",
    "task commit time": "write_commit_ms",
}
_ROCKSDB_COMMIT = (
    "rocksdbCommitFlushLatency",
    "rocksdbCommitCompactLatency",
    "rocksdbCommitCheckpointLatency",
    "rocksdbCommitFileSyncLatencyMs",
)
PREFIX_REPEATS = 3
#: wall-clock self-time layers of the throughput window, reported as
#: ``self.<layer>_ms`` on every workload
SELF_LAYERS = (
    "engine",
    "sink_outside_jobs",
    "input",
    "python_udf",
    "aggregation",
    "state",
    "shuffle_write",
    "write_commit",
)


def prefix_times(spark, prefixes: list) -> dict[str, float]:
    """Median wall ms of each prefix action, repeated round-robin."""
    samples: dict[str, list[float]] = defaultdict(list)
    sc = spark.sparkContext
    for _ in range(PREFIX_REPEATS):
        for name, build in prefixes:
            sc.setJobDescription(f"perfbench:prefix:{name}")
            t0 = time.perf_counter()
            build().collect()
            samples[name].append((time.perf_counter() - t0) * 1000.0)
    sc.setJobDescription(None)
    return {k: median(v) for k, v in samples.items()}


def read_event_log(run_dir: str) -> list[dict]:
    """Events of every application logged under ``run_dir/eventlog``
    (rolling v2 dirs or single files), in file order."""
    root = os.path.join(run_dir, "eventlog")
    paths = []
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if os.path.isdir(p):
            paths += [os.path.join(p, f) for f in sorted(os.listdir(p), key=_event_file_order) if f.startswith("events_")]
        else:
            paths.append(p)
    events = []
    for p in paths:
        with open(p) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _event_file_order(name: str) -> int:
    try:
        return int(name.split("_")[1])
    except (IndexError, ValueError):
        return 0


class Jobs:
    """Per-job task metrics from the event log, keyed by job id."""

    def __init__(self, events: list[dict]):
        self.desc: dict[int, str] = {}
        self.wall: dict[int, tuple[float, float]] = {}
        stage_job: dict[int, int] = {}
        for e in events:
            if e["Event"] == "SparkListenerJobStart":
                j = e["Job ID"]
                self.desc[j] = (e.get("Properties") or {}).get("spark.job.description") or ""
                self.wall[j] = (e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0)
                for s in e.get("Stage IDs", []):
                    stage_job[s] = j
            elif e["Event"] == "SparkListenerJobEnd":
                j = e["Job ID"]
                self.wall[j] = (self.wall[j][0], e["Completion Time"] / 1000.0)
        self.sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        #: the same sums per (job, stage)
        self.stage_sums: dict[tuple[int, int], dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.task_ms: dict[tuple[int, int], list[float]] = defaultdict(list)
        for e in events:
            if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
                continue
            j = stage_job[e["Stage ID"]]
            for s in (self.sums[j], self.stage_sums[(j, e["Stage ID"])]):
                self._add_task(s, e)
            info = e["Task Info"]
            self.task_ms[(j, e["Stage ID"])].append(info["Finish Time"] - info["Launch Time"])

    @staticmethod
    def _add_task(s: dict, e: dict) -> None:
        tm = e.get("Task Metrics") or {}
        s["tasks"] += 1
        s["run_ms"] += tm.get("Executor Run Time", 0)
        s["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        s["gc_ms"] += tm.get("JVM GC Time", 0)
        s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        s["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        s["shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
        s["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            key = _SQL.get(acc.get("Name"))
            if key and acc.get("Update") is not None:
                s[key] += float(acc["Update"])

    def self_task_ms(self, job: int) -> dict[str, float]:
        """Disjoint task time per layer of one job. Within a stage the
        operator timers nest: the input (scan or shuffle fetch) runs inside
        the Python runner's time, which runs inside the aggregation build,
        which runs inside the state store's update loop; each layer's self
        time is its timer minus the enclosing-most timer below it. State
        commit/removal, shuffle write and task commit run after that loop."""
        out: dict[str, float] = defaultdict(float)
        for (j, _stage), s in self.stage_sums.items():
            if j != job:
                continue
            below = 0.0
            for layer, t in (
                ("input", s["scan_ms"] + s["fetch_wait_ms"]),
                ("python_udf", s["py_start_ms"] + s["py_init_ms"] + s["py_run_ms"]),
                ("aggregation", s["agg_ms"]),
                ("state", s["state_update_ms"]),
            ):
                if t > 0:
                    out[layer] += max(0.0, t - below)
                    below = max(below, t)
            out["state"] += s["state_commit_ms"] + s["state_remove_ms"]
            out["shuffle_write"] += s["shuffle_write_ms"]
            out["write_commit"] += s["write_commit_ms"]
        return out

    def tagged(self, prefix: str) -> list[int]:
        return [j for j, d in self.desc.items() if d.startswith(prefix)]

    def total(self, jobs: list[int], key: str) -> float:
        return sum(self.sums[j][key] for j in jobs)


def _state(progress: list[dict], key: str) -> list[float]:
    return [sum(float(so.get(key) or 0) for so in p.get("stateOperators") or []) for p in progress]


def _rocksdb_commit(progress: list[dict]) -> float:
    return sum(
        float((so.get("customMetrics") or {}).get(m) or 0)
        for p in progress
        for so in p.get("stateOperators") or []
        for m in _ROCKSDB_COMMIT
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _backlog_files_max(res) -> float:
    """Most files landed but not yet consumed at any trigger start (one
    source: the clip stream)."""
    from .streams import trigger_start

    landed = sorted(res.landed, key=lambda x: x[0])
    progress = res.progress + res.extra.get("live_progress", [])
    best, consumed_rows = 0, 0
    rows_of = [r for _, r in res.landed]
    for p in progress:
        t = trigger_start(p)
        n_landed = sum(1 for when, _ in landed if when <= t)
        n_done, acc = 0, 0
        for r in rows_of:
            if acc + r > consumed_rows:
                break
            acc += r
            n_done += 1
        best = max(best, n_landed - n_done)
        consumed_rows += int(p["sources"][0].get("numInputRows") or 0)
    return float(best)


def _quarter_growth(values: list[float]) -> float:
    if len(values) < 2:
        return 1.0
    q = max(1, len(values) // 4)
    return median(values[-q:]) / median(values[:q])


def layer_metrics(wl, res, run_dir: str, cores: int, prefix: dict, untraced: dict, traced: dict):
    """(metrics, report lines) of the traced run."""
    jobs = Jobs(read_event_log(run_dir))
    data = [p for p in res.progress if int(p.get("numInputRows") or 0) > 0]
    batches = {p["batchId"] for p in res.progress}
    calls = {b: res.calls[b] for b in batches if b in res.calls}
    sink_jobs = [j for j in jobs.tagged("perfbench:sink:") if _batch_of(jobs, j) in batches]
    wall_ms = res.wall_s * 1000.0
    dur = lambda key: [float((p.get("durationMs") or {}).get(key) or 0) for p in data]  # noqa: E731
    trig, add = dur("triggerExecution"), dur("addBatch")
    call_ms = {b: (c[1] - c[0]) * 1000.0 for b, c in calls.items()}

    # -- wall-clock self time of the throughput window ------------------------
    all_trig = [float((p.get("durationMs") or {}).get("triggerExecution") or 0) for p in res.progress]
    all_add = [float((p.get("durationMs") or {}).get("addBatch") or 0) for p in res.progress]
    self_t: dict[str, float] = dict.fromkeys(SELF_LAYERS, 0.0)
    self_t["engine"] = (
        (res.plan_s + res.start_s) * 1000.0
        + sum(all_trig) - sum(all_add)
        + max(0.0, sum(all_add) - sum(call_ms.values()))
    )
    job_wall = {j: (jobs.wall[j][1] - jobs.wall[j][0]) * 1000.0 for j in sink_jobs}
    # jobs of one sink call can overlap: the sink's own remainder is the
    # call minus the union of its jobs' spans, and the jobs' layer shares
    # are scaled to that union
    overlap = {}
    for b in call_ms:
        own = [j for j in sink_jobs if _batch_of(jobs, j) == b]
        union = _union_ms([jobs.wall[j] for j in own])
        self_t["sink_outside_jobs"] += max(0.0, call_ms[b] - union)
        overlap[b] = union / max(1e-9, sum(job_wall[j] for j in own)) if own else 1.0
    for j in sink_jobs:
        run = jobs.sums[j]["run_ms"]
        parts = jobs.self_task_ms(j)
        if run <= 0 or not parts:
            continue
        # a job's wall time is shared out by the layers' share of its task
        # time; timers that overlap despite the nesting never exceed the job
        scale = overlap.get(_batch_of(jobs, j), 1.0) * job_wall[j] / max(run, sum(parts.values()))
        for name, t in parts.items():
            self_t[name] += t * scale
    covered = sum(self_t.values())
    self_t["unattributed"] = max(0.0, wall_ms - covered)

    # -- per-layer metrics ---------------------------------------------------
    p = prefix
    diff = lambda a, b: max(0.0, p[a] - p[b]) if a in p and b in p else 0.0  # noqa: E731
    st_last = res.progress[-1] if res.progress else {}
    dedup = wl.name == "audio_dedup"
    compact = getattr(wl, "compact_every", 0)
    dedup_ms = [v for b, v in sorted(call_ms.items()) if dedup and (b + 1) % compact]
    compact_ms = [v for b, v in sorted(call_ms.items()) if dedup and not (b + 1) % compact]
    bm = res.extra.get("batch_metrics") or []
    read_b = sum(m["index_read_bytes"] for m in bm)
    total_b = sum(m["index_total_bytes"] for m in bm)
    data_calls = [call_ms[q["batchId"]] for q in data if q["batchId"] in call_ms]
    m = {
        "source.scan_ms": (p.get("scan", 0.0), "ms"),
        "source.input_bytes": (jobs.total(sink_jobs, "input_bytes"), "bytes"),
        "source.backlog_files_max": (_backlog_files_max(res), "count"),
        "audio.validate_ms": (diff("validate", "scan"), "ms"),
        "audio.decode_ms": (diff("decode", "validate"), "ms"),
        "udf.python_run_ms": (jobs.total(sink_jobs, "py_run_ms"), "ms"),
        "udf.python_start_ms": (jobs.total(sink_jobs, "py_start_ms"), "ms"),
        "udf.python_init_ms": (jobs.total(sink_jobs, "py_init_ms"), "ms"),
        "udf.bytes_to_python": (jobs.total(sink_jobs, "py_bytes_to"), "bytes"),
        "udf.bytes_from_python": (jobs.total(sink_jobs, "py_bytes_from"), "bytes"),
        "audio_fp.fingerprint_ms": (diff("fingerprint", "scan"), "ms"),
        "window.agg_ms": (diff("window", "decode"), "ms"),
        "join.join_ms": (diff("join", "scan"), "ms"),
        "state.update_ms": (sum(_state(res.progress, "allUpdatesTimeMs")), "ms"),
        "state.commit_ms": (sum(_state(res.progress, "commitTimeMs")), "ms"),
        "state.removal_ms": (sum(_state(res.progress, "allRemovalsTimeMs")), "ms"),
        "state.rocksdb_commit_ms": (_rocksdb_commit(res.progress), "ms"),
        "state.rows_total": (sum(_state([st_last], "numRowsTotal")) if st_last else 0.0, "count"),
        "state.memory_bytes": (sum(_state([st_last], "memoryUsedBytes")) if st_last else 0.0, "bytes"),
        "state.rows_dropped_by_watermark": (sum(_state(res.progress, "numRowsDroppedByWatermark")), "count"),
        "sink.call_ms": (median(data_calls) if data_calls else 0.0, "ms"),
        "sink.growth": (_quarter_growth(data_calls[1:] or data_calls), "ratio"),
        "sink.table_bytes": (float(_dir_bytes(res.sink_dir)), "bytes"),
        "sink.jobs_per_batch": (len(sink_jobs) / max(1, len(calls)), "count"),
        "dedup.batch_ms": (median(dedup_ms) if dedup_ms else 0.0, "ms"),
        "dedup.compaction_batch_ms": (median(compact_ms) if compact_ms else 0.0, "ms"),
        "dedup.index_bytes": (float(bm[-1]["index_total_bytes"]) if bm else 0.0, "bytes"),
        "dedup.read_share": (read_b / total_b if total_b else 0.0, "share"),
        "flow.plan_ms": (res.plan_s * 1000.0, "ms"),
        "engine.start_ms": (res.start_s * 1000.0, "ms"),
        "engine.trigger_ms": (median(trig) if trig else 0.0, "ms"),
        "engine.add_batch_ms": (median(add) if add else 0.0, "ms"),
        "engine.overhead_ms": (median([t - a for t, a in zip(trig, add)]) if trig else 0.0, "ms"),
        "engine.latest_offset_ms": (median(dur("latestOffset")) if data else 0.0, "ms"),
        "engine.query_planning_ms": (median(dur("queryPlanning")) if data else 0.0, "ms"),
        "engine.wal_commit_ms": (median(dur("walCommit")) if data else 0.0, "ms"),
        "engine.commit_offsets_ms": (median(dur("commitOffsets")) if data else 0.0, "ms"),
        "engine.batches": (float(len(data)), "count"),
        "exec.cpu_util": (jobs.total(sink_jobs, "cpu_ms") / max(1e-9, wall_ms * cores), "share"),
        "exec.task_skew": (_task_skew(jobs, sink_jobs), "ratio"),
        "exec.gc_ms": (jobs.total(sink_jobs, "gc_ms"), "ms"),
        "exec.tasks": (jobs.total(sink_jobs, "tasks"), "count"),
        "exec.spill_bytes": (jobs.total(sink_jobs, "spill_bytes"), "bytes"),
        "exec.peak_rss_mb": (res.peak_rss / 2**20, "MB"),
        "shuffle.write_bytes": (jobs.total(sink_jobs, "shuffle_write_bytes"), "bytes"),
        "shuffle.write_ms": (jobs.total(sink_jobs, "shuffle_write_ms"), "ms"),
        "shuffle.fetch_wait_ms": (jobs.total(sink_jobs, "fetch_wait_ms"), "ms"),
    }
    for name, v in self_t.items():
        m[f"self.{name}_ms"] = (v, "ms")
    m["trace.wall_ms"] = (wall_ms, "ms")
    m["trace.coverage"] = (min(covered, wall_ms) / wall_ms if wall_ms else 0.0, "share")
    # same input rows, so the untraced wall is rows / untraced rate
    m["trace.overhead_ms"] = (wall_ms - 1000.0 * res.rows / untraced["rows_per_s"]["value"], "ms")
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    lines = [f"traced window: wall {wall_ms:.0f} ms over {len(data)} batches; layer self time (ms, share of wall):"]
    for name, v in sorted(self_t.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:<13} {v:9.1f}  {v / wall_ms if wall_ms else 0:6.1%}")
    lines.append(f"coverage {metrics['trace.coverage']['value']:.1%} of wall (target >= 80%)")
    lines.append("prefix actions (median ms): " + ", ".join(f"{k}={v:.0f}" for k, v in prefix.items()))
    lines.append(
        "tracing overhead (traced - untraced): "
        + ", ".join(f"{k}={traced[k]['value'] - untraced[k]['value']:+.4g}" for k in untraced if k != "setup_s")
    )
    return metrics, lines


def _batch_of(jobs: Jobs, job: int) -> int:
    return int(jobs.desc[job].rsplit(":", 1)[1])


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total * 1000.0


def _task_skew(jobs: Jobs, job_ids: list[int]) -> float:
    worst = 1.0
    wanted = set(job_ids)
    for (j, _stage), ms in jobs.task_ms.items():
        if j in wanted and len(ms) >= 2:
            med = median(ms)
            if med > 0:
                worst = max(worst, max(ms) / med)
    return worst
