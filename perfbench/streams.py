"""Helpers shared by the streaming workloads: landing files, timing sink
calls, collecting progress and turning it into per-file result latencies."""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class TimedSink:
    """foreachBatch wrapper: records the wall-clock span of every sink call
    and, when tracing, tags the Spark jobs it runs with a job description
    (``perfbench:sink:<batch>``) so the event log can be grouped by it."""

    def __init__(self, sink, trace: bool = False):
        self.sink = sink
        self.trace = trace
        #: batch_id -> (start, end), epoch seconds
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        if self.trace:
            df.sparkSession.sparkContext.setJobDescription(f"perfbench:sink:{batch_id}")
        self.sink(df, batch_id)
        self.calls[batch_id] = (t0, time.time())


class ProgressListener(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as parsed JSON (nothing dropped,
    unlike a listener that keeps only selected fields)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def land_backlog(files: list[str], dest_dir: str, t_land: float) -> None:
    """Hard-link cached files into the source dir before the query starts,
    with strictly increasing mtimes in file order (the file source orders
    files by mtime)."""
    n = len(files)
    for k, src in enumerate(files):
        dst = os.path.join(dest_dir, os.path.basename(src))
        os.link(src, dst)
        t = t_land - (n - k) * 0.001
        os.utime(dst, (t, t))


def stage_files(files: list[str], stage_dir: str, prefix: str) -> list[str]:
    """Hard-link cached files into a staging dir on the same filesystem as
    the source dir, so the feeder's rename is atomic."""
    out = []
    for src in files:
        dst = os.path.join(stage_dir, f"{prefix}{os.path.basename(src)}")
        os.link(src, dst)
        out.append(dst)
    return out


def query_progress(query, listener: ProgressListener | None) -> list[dict]:
    if listener is not None:
        events = [p for p in listener.progress if p.get("id") == str(query.id)]
    else:
        events = [json.loads(p.json) for p in query.recentProgress]
    return sorted(events, key=lambda p: p["batchId"])


def input_rows(progress: list[dict], source: int | None = None) -> int:
    if source is None:
        return sum(int(p.get("numInputRows") or 0) for p in progress)
    return sum(int(p["sources"][source].get("numInputRows") or 0) for p in progress)


def wait_rows(
    query, listener, expected: int, skip: int = 0, timeout_s: float = 120.0, poll_s: float = 0.2
) -> list[dict]:
    """Progress events after the first ``skip`` once they account for
    ``expected`` input rows (the event of a batch is posted just after its
    commit). If the query dies or the rows never arrive, returns what was
    committed: the missing files then count as failed operations.

    Polls every ``poll_s``: each poll copies every progress event over py4j,
    and a tight loop would take CPU from the query it waits for. Commit times
    come from the sink wrapper, so the poll interval does not bound them."""
    deadline = time.time() + timeout_s
    while True:
        prog = query_progress(query, listener)[skip:]
        if input_rows(prog) >= expected:
            return prog
        if not query.isActive or time.time() > deadline:
            print(f"[perfbench] query stopped at {input_rows(prog)}/{expected} rows: {query.exception()}", file=sys.stderr)
            return prog
        time.sleep(poll_s)


def trigger_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def file_commits(progress: list[dict], calls: dict, rows_per_file: list[int], source: int = 0) -> list[float | None]:
    """Sink-return time of the micro-batch that consumed each file, mapping
    files to batches by cumulative ``numInputRows`` of one source (files are
    consumed whole and in order). None for a file never committed."""
    out: list[float | None] = [None] * len(rows_per_file)
    k, file_end = 0, rows_per_file[0] if rows_per_file else 0
    cum = 0
    for p in progress:
        cum += int(p["sources"][source].get("numInputRows") or 0)
        done = calls.get(p["batchId"])
        while k < len(rows_per_file) and file_end <= cum:
            out[k] = done[1] if done else None
            k += 1
            file_end += rows_per_file[k] if k < len(rows_per_file) else 0
    return out
