"""The four benchmark workloads, driven through the package's public API.

Each workload knows how to size and generate its inputs for a seed, warm a
fresh session, warm the JVM with an untimed run of its streaming query,
run the measured query, and check the query's output against an
independent batch computation (the oracle). Sizes scale with ``--seconds``;
the tiny smoke size is ``seconds=1``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflows_spark import Flow
from dataflows_spark.functions import audio
from dataflows_spark.functions.audio_fp import with_audio_fingerprint
from dataflows_spark.sources.clips import CLIPS_SCHEMA, TRANSCRIPTS_SIDE_SCHEMA
from dataflows_spark.streaming import (
    ExactlyOnceParquetSink,
    KeyedMergeSink,
    StreamingAudioDeduper,
    load_stream,
    stream_join,
    tumbling_window_agg,
)

from . import gen
from .procmon import PeakRss, ProcessTree
from .streams import (
    ProgressListener,
    TimedSink,
    file_commits,
    input_rows,
    land_backlog,
    query_progress,
    stage_files,
    wait_rows,
)

HERE = os.path.dirname(os.path.abspath(__file__))

#: open-loop live feed of clips_window: files per second and clips per file,
#: 250 clips/s (recorded in BENCHMARK.json). A live batch costs about a
#: second plus ~10 ms per file, so 25 files/s keeps the query well below the
#: file rate it can sustain; at 125 files/s of 2 clips it was close to it and
#: the open-loop latencies swung by a quarter from run to run
LIVE_FILES_PER_S = 25
LIVE_ROWS_PER_FILE = 10
CLIPS_ROWS_PER_FILE = 250
#: input rows of the tiny batch run that warms a fresh session
WARM_ROWS = 32
DEDUP_SCHEMA = "clip_id string, bytes binary, codec string, sr_hz int"
CLIP_DUR_MS = (100, 400)
WINDOW_FIELDS = {
    "n_clips": {"aggregate": "count"},
    "mean_rms": {"name": "rms", "aggregate": "avg"},
    "total_samples": {"name": "n_samples", "aggregate": "sum"},
}
CLIPS_NOBYTES_SCHEMA = (
    "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, event_time timestamp"
)
JOIN_WATERMARK = "30 minutes"
JOIN_BOUND = "10 minutes"


@dataclass
class Ctx:
    """One measured run: the session, a fresh run dir, the cached inputs."""

    spark: SparkSession
    run_dir: str
    inputs: gen.InputSet
    tree: ProcessTree
    trace: bool
    listener: ProgressListener | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def mkdir(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    """What a measured run hands to the report: end-to-end inputs plus the
    raw spans and progress the traced report is computed from."""

    #: input clips / rows committed within the throughput window
    clips: int = 0
    rows: int = 0
    #: input rows processed while ``cpu_s`` was counted
    rows_cpu: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss: int = 0
    #: result latency (ms) of every committed file
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    uncommitted: list[str] = field(default_factory=list)
    t_start: float = 0.0
    t_end: float = 0.0
    plan_s: float = 0.0
    start_s: float = 0.0
    progress: list[dict] = field(default_factory=list)
    calls: dict = field(default_factory=dict)
    #: (landed epoch s, rows) of every file, in consumption order per source
    landed: list[list[float]] = field(default_factory=list)
    feeder_lateness_ms: list[float] = field(default_factory=list)
    sink_dir: str = ""
    extra: dict = field(default_factory=dict)


def _latencies(commits: list, due: list[float]) -> list[float]:
    """Result latency (ms) of every committed file."""
    return [(c - d) * 1000.0 for c, d in zip(commits, due) if c is not None]


def warm_run(ctx: Ctx, query, pairs: list[tuple[str, str]], rows: int) -> None:
    """Land the ``(file, source dir)`` pairs, wait until the query has
    consumed their ``rows``, then stop the query."""
    try:
        t = time.time()
        for f, dest in pairs:
            land_backlog([f], dest, t)
        wait_rows(query, ctx.listener, rows)
    finally:
        query.stop()


def clip_features(df: DataFrame) -> DataFrame:
    """duration validation -> fused Arrow decode+features -> transcript
    normalisation (the headline chain up to the window)."""
    valid = df.filter(audio.duration_valid_col())
    return valid.withColumn("st", audio.decode_stats("bytes", "codec")).select(
        "codec",
        "event_time",
        F.col("st.rms").alias("rms"),
        F.col("st.n_samples").alias("n_samples"),
        F.trim(F.regexp_replace(F.coalesce("transcript", F.lit("")), r"\s+", " ")).alias("transcript_norm"),
    )


def clip_windows(feats: DataFrame, watermark: str | None) -> DataFrame:
    return tumbling_window_agg(feats, "event_time", "1 hour", ["codec"], WINDOW_FIELDS, watermark=watermark)


class Workload:
    name = ""
    pinned_one_core = False

    def __init__(self, seconds: int):
        self.seconds = seconds

    def cores(self, available: int) -> int:
        return 1 if self.pinned_one_core else min(4, available)

    def input_name(self, seed: int) -> str:
        raise NotImplementedError

    def input_maker(self, seed: int):
        raise NotImplementedError

    def warm(self, ctx: "Ctx") -> None:
        """Warm a fresh session with a tiny batch run of the chain's first
        stages (Python workers, code generation)."""
        raise NotImplementedError

    def warm_query(self, ctx: Ctx) -> None:
        """Untimed, after the set-ups: run the measured streaming query over
        its first input file (per stream) into a throwaway sink, so that the measured
        query starts on a warm JVM (compiled operators, state store, sink
        paths) instead of paying a cold start that varies from run to run."""

    def measure(self, ctx: Ctx) -> Result:
        raise NotImplementedError

    def check(self, ctx: Ctx, res: Result) -> list[str]:
        """Names of operations (files or micro-batches) whose output is
        missing or wrong."""
        raise NotImplementedError

    def prefixes(self, spark: SparkSession, inputs: gen.InputSet) -> list[tuple[str, object]]:
        """Batch prefix actions over the measured input files, cumulative
        layer by layer, for the traced run's self times."""
        return []


# --------------------------------------------------------------------------
# clips_window / clips_window_1c
# --------------------------------------------------------------------------


class ClipsWindow(Workload):
    """Phase 1 drains the pre-landed backlog closed-loop; phase 2 feeds the
    same running query open-loop. The file source takes every available file
    into the next micro-batch (no per-trigger cap): a cap would let the live
    feed outrun the query, and lifting it for phase 2 would need a restart."""

    name = "clips_window"
    live = True

    def backlog_files(self) -> int:
        return max(4, round(9.6 * self.seconds))

    def live_files(self) -> int:
        return max(10, 20 * self.seconds) if self.live else 0

    def input_name(self, seed: int) -> str:
        return f"clips-s{seed}-b{self.backlog_files()}x{CLIPS_ROWS_PER_FILE}-l{self.live_files()}x{LIVE_ROWS_PER_FILE}"

    def input_maker(self, seed: int):
        groups = [("backlog", self.backlog_files(), CLIPS_ROWS_PER_FILE)]
        if self.live:
            groups.append(("live", self.live_files(), LIVE_ROWS_PER_FILE))
        return gen.make_clip_files(seed, groups, CLIP_DUR_MS, payload=True, side=False)

    def warm(self, ctx) -> None:
        df = ctx.spark.read.schema(CLIPS_SCHEMA).parquet(ctx.inputs.files("backlog")[0]).limit(WARM_ROWS)
        clip_features(df).agg(F.sum("rms")).collect()

    def _query(self, ctx: Ctx, src: str, sink, cp: str = "cp"):
        flow = Flow(
            load_stream(src, name="clips", schema=CLIPS_SCHEMA),
            lambda package: package.apply(lambda name, df: clip_windows(clip_features(df), "2 hours")),
        )
        t0 = time.time()
        agg = flow.dataframes(ctx.spark)["clips"]
        t1 = time.time()
        writer = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ctx.path(cp))
        )
        return writer.start(), t1 - t0, time.time() - t1

    def warm_query(self, ctx: Ctx) -> None:
        src = ctx.mkdir("warm_src")
        sink = TimedSink(ExactlyOnceParquetSink(ctx.path("warm_out"), dedup_keys=["codec", "window_start"]))
        rows = ctx.inputs.manifest()["streams"]["backlog"]["rows"][0]
        q = self._query(ctx, src, sink, cp="warm_cp")[0]
        warm_run(ctx, q, [(ctx.inputs.files("backlog")[0], src)], rows)

    def measure(self, ctx: Ctx) -> Result:
        man = ctx.inputs.manifest()["streams"]
        src, stage = ctx.mkdir("src"), ctx.mkdir("stage")
        res = Result(sink_dir=os.path.join(ctx.run_dir, "out"))
        sink = TimedSink(ExactlyOnceParquetSink(res.sink_dir, dedup_keys=["codec", "window_start"]), ctx.trace)
        backlog = ctx.inputs.files("backlog")
        rows_b = man["backlog"]["rows"]
        with PeakRss(ctx.tree) as peak:
            # phase 1: closed-loop drain of a pre-landed backlog
            land_backlog(backlog, src, time.time())
            cpu0 = ctx.tree.cpu_seconds()
            res.t_start = time.time()
            q, res.plan_s, res.start_s = self._query(ctx, src, sink)
            prog1 = wait_rows(q, ctx.listener, sum(rows_b))
            commits = file_commits(prog1, sink.calls, rows_b)
            done = [c for c in commits if c is not None]
            res.t_end = max(done) if done else time.time()
            res.cpu_s = ctx.tree.cpu_seconds() - cpu0
            res.clips = res.rows = res.rows_cpu = input_rows(prog1)
            res.wall_s = res.t_end - res.t_start
            res.latencies_ms = _latencies(commits, [res.t_start] * len(rows_b))
            res.landed = [[res.t_start, r] for r in rows_b]
            res.progress = list(prog1)
            res.attempted = len(rows_b)
            res.uncommitted = [f"backlog/{k}" for k, c in enumerate(commits) if c is None]
            if self.live:
                self._live(ctx, res, sink, q, src, stage, man["live"]["rows"])
            q.stop()
        res.peak_rss = peak.peak
        res.calls = dict(sink.calls)
        return res

    def _live(self, ctx: Ctx, res: Result, sink: TimedSink, q, src: str, stage: str, rows_l: list[int]) -> None:
        """Phase 2: once the query is idle, the feeder process lands the live
        files on a fixed schedule."""
        staged = stage_files(ctx.inputs.files("live"), stage, "live-")
        t_idle = time.time()
        wait_idle(q)
        res.extra["idle_wait_s"] = time.time() - t_idle
        n_before = len(query_progress(q, ctx.listener))
        t0 = time.time() + 0.2
        plan = {
            "t0": t0,
            "items": [
                [s, os.path.join(src, os.path.basename(s)), k / LIVE_FILES_PER_S] for k, s in enumerate(staged)
            ],
        }
        plan_path, log_path = ctx.path("feeder", "plan.json"), ctx.path("feeder", "log.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        cpu0 = ctx.tree.cpu_seconds()
        feeder = subprocess.Popen([sys.executable, os.path.join(HERE, "feeder.py"), plan_path, log_path])
        ctx.tree.exclude.add(feeder.pid)
        try:
            feeder.wait(timeout=60 + len(staged) / LIVE_FILES_PER_S)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        t_fed = time.time()
        prog = wait_rows(q, ctx.listener, sum(rows_l), skip=n_before)
        res.cpu_s += ctx.tree.cpu_seconds() - cpu0
        res.extra["feed_s"], res.extra["drain_s"] = t_fed - t0, time.time() - t_fed
        with open(log_path) as fh:
            log = json.load(fh)
        res.feeder_lateness_ms = [(a - d) * 1000.0 for a, d in zip(log["landed"], log["due"])]
        commits = file_commits(prog, sink.calls, rows_l)
        # the headline latency is the live phase's, from each file's
        # scheduled (not actual) landing time
        res.latencies_ms = _latencies(commits, log["due"])
        res.rows_cpu += input_rows(prog)
        res.landed += [[d, r] for d, r in zip(log["due"], rows_l)]
        res.extra["live_progress"] = prog
        res.attempted += len(rows_l)
        res.uncommitted += [f"live/{k}" for k, c in enumerate(commits) if c is None]

    def check(self, ctx: Ctx, res: Result) -> list[str]:
        spark = ctx.spark
        streams = ["backlog", "live"] if self.live else ["backlog"]
        files = [f for s in streams for f in ctx.inputs.files(s)]
        batch = clip_windows(clip_features(spark.read.schema(CLIPS_SCHEMA).parquet(*files)), None)
        expect = {(r["codec"], r["window_start"]): r for r in batch.collect()}
        got_rows = ExactlyOnceParquetSink(res.sink_dir, dedup_keys=["codec", "window_start"]).read(spark).collect()
        got = {(r["codec"], r["window_start"]): r for r in got_rows}
        bad = set(expect) ^ set(got)
        for k in set(expect) & set(got):
            e, g = expect[k], got[k]
            if e["n_clips"] != g["n_clips"] or e["total_samples"] != g["total_samples"]:
                bad.add(k)
            elif abs(e["mean_rms"] - g["mean_rms"]) > 1e-9 * max(abs(e["mean_rms"]), 1e-300):
                bad.add(k)
        if not bad:
            return []
        # attribute a wrong (codec, window) to every file holding one of its rows
        keyed = spark.read.schema(CLIPS_SCHEMA).parquet(*files).select(
            "codec", F.window("event_time", "1 hour").start.alias("ws"), F.input_file_name().alias("f")
        )
        hit = {
            os.path.basename(r["f"])
            for r in keyed.collect()
            if (r["codec"], r["ws"]) in bad
        }
        return sorted(hit) or ["<unattributed>"]

    def prefixes(self, spark, inputs):
        files = inputs.files("backlog")

        def scan():
            df = spark.read.schema(CLIPS_SCHEMA).parquet(*files)
            return df.select(F.count(F.lit(1)), F.sum(F.length("bytes")), F.sum(F.hash(*df.columns)))

        def validate():
            df = spark.read.schema(CLIPS_SCHEMA).parquet(*files).filter(audio.duration_valid_col())
            return df.select(F.count(F.lit(1)), F.sum(F.length("bytes")), F.sum(F.hash(*df.columns)))

        def decode():
            df = clip_features(spark.read.schema(CLIPS_SCHEMA).parquet(*files))
            return df.select(F.count(F.lit(1)), F.sum(F.hash(*df.columns)))

        def window():
            return clip_windows(clip_features(spark.read.schema(CLIPS_SCHEMA).parquet(*files)), None)

        return [("scan", scan), ("validate", validate), ("decode", decode), ("window", window)]


def wait_idle(query, timeout_s: float = 30.0) -> None:
    """Block until the query has no trigger running and no data pending (the
    backlog batch is followed by a no-data batch that advances the
    watermark)."""
    deadline = time.time() + timeout_s
    time.sleep(0.1)
    while time.time() < deadline:
        st = query.status
        if not st["isTriggerActive"] and not st["isDataAvailable"] and query.lastProgress is not None:
            return
        time.sleep(0.05)


class ClipsWindow1c(ClipsWindow):
    """Phase 1 of clips_window on one pinned core with a quarter of the
    backlog."""

    name = "clips_window_1c"
    pinned_one_core = True
    live = False

    def backlog_files(self) -> int:
        return max(1, round(2.4 * self.seconds))


# --------------------------------------------------------------------------
# join_merge
# --------------------------------------------------------------------------


class JoinMerge(Workload):
    name = "join_merge"
    files_per_trigger = 2
    rows_per_file = 1000

    def n_files(self) -> int:
        return max(2, round(1.2 * self.seconds))

    def input_name(self, seed: int) -> str:
        return f"join-s{seed}-{self.n_files()}x{self.rows_per_file}"

    def input_maker(self, seed: int):
        return gen.make_clip_files(
            seed, [("clips", self.n_files(), self.rows_per_file)], CLIP_DUR_MS, payload=False, side=True
        )

    def _batch_join(self, spark, clips_files, side_files) -> DataFrame:
        clips = spark.read.schema(CLIPS_NOBYTES_SCHEMA).parquet(*clips_files)
        side = spark.read.schema(TRANSCRIPTS_SIDE_SCHEMA).parquet(*side_files)
        return (
            clips.alias("c")
            .join(
                side.alias("s"),
                F.expr(
                    "c.clip_id = s.clip_id AND s.event_time >= c.event_time "
                    f"AND s.event_time <= c.event_time + INTERVAL {JOIN_BOUND}"
                ),
            )
            .select("c.clip_id")
            .distinct()
        )

    def _query(self, ctx: Ctx, l_src: str, r_src: str, sink, cp: str = "cp"):
        t0 = time.time()
        n = self.files_per_trigger
        flow = Flow(
            load_stream(l_src, name="clips", schema=CLIPS_NOBYTES_SCHEMA, max_files_per_trigger=n),
            load_stream(r_src, name="side", schema=TRANSCRIPTS_SIDE_SCHEMA, max_files_per_trigger=n),
            stream_join("side", "clips", key="clip_id", watermark=JOIN_WATERMARK, time_bound=JOIN_BOUND),
        )
        joined = flow.dataframes(ctx.spark)["clips"]
        t1 = time.time()
        q = joined.writeStream.outputMode("append").foreachBatch(sink).option("checkpointLocation", ctx.path(cp)).start()
        return q, t1 - t0, time.time() - t1

    def warm(self, ctx) -> None:
        self._batch_join(ctx.spark, ctx.inputs.files("clips")[:1], ctx.inputs.files("side")[:1]).count()

    def warm_query(self, ctx: Ctx) -> None:
        man = ctx.inputs.manifest()["streams"]
        l_src, r_src = ctx.mkdir("warm_src_clips"), ctx.mkdir("warm_src_side")
        sink = TimedSink(KeyedMergeSink(ctx.path("warm_out"), keys=["clip_id"]))
        q = self._query(ctx, l_src, r_src, sink, cp="warm_cp")[0]
        pairs = [(ctx.inputs.files("clips")[0], l_src), (ctx.inputs.files("side")[0], r_src)]
        warm_run(ctx, q, pairs, man["clips"]["rows"][0] + man["side"]["rows"][0])

    def measure(self, ctx: Ctx) -> Result:
        man = ctx.inputs.manifest()["streams"]
        l_src, r_src = ctx.mkdir("src_clips"), ctx.mkdir("src_side")
        res = Result(sink_dir=os.path.join(ctx.run_dir, "out"))
        sink = TimedSink(KeyedMergeSink(res.sink_dir, keys=["clip_id"]), ctx.trace)
        rows_l, rows_r = man["clips"]["rows"], man["side"]["rows"]
        with PeakRss(ctx.tree) as peak:
            t_land = time.time()
            land_backlog(ctx.inputs.files("clips"), l_src, t_land)
            land_backlog(ctx.inputs.files("side"), r_src, t_land)
            cpu0 = ctx.tree.cpu_seconds()
            res.t_start = time.time()
            q, res.plan_s, res.start_s = self._query(ctx, l_src, r_src, sink)
            prog = wait_rows(q, ctx.listener, sum(rows_l) + sum(rows_r))
            c_l = file_commits(prog, sink.calls, rows_l, source=0)
            c_r = file_commits(prog, sink.calls, rows_r, source=1)
            done = [c for c in c_l + c_r if c is not None]
            res.t_end = max(done) if done else time.time()
            res.cpu_s = ctx.tree.cpu_seconds() - cpu0
            q.stop()
        res.peak_rss = peak.peak
        res.clips = input_rows(prog, 0)
        res.rows = res.rows_cpu = input_rows(prog)
        res.wall_s = res.t_end - res.t_start
        res.latencies_ms = _latencies(c_l + c_r, [res.t_start] * (len(c_l) + len(c_r)))
        res.landed = [[res.t_start, r] for r in rows_l]
        res.progress, res.calls = prog, dict(sink.calls)
        res.attempted = len(c_l) + len(c_r)
        res.uncommitted = [f"clips/{k}" for k, c in enumerate(c_l) if c is None]
        res.uncommitted += [f"side/{k}" for k, c in enumerate(c_r) if c is None]
        return res

    def check(self, ctx: Ctx, res: Result) -> list[str]:
        spark = ctx.spark
        expect = {r[0] for r in self._batch_join(spark, ctx.inputs.files("clips"), ctx.inputs.files("side")).collect()}
        rows = KeyedMergeSink(res.sink_dir, keys=["clip_id"]).read(spark).select("clip_id", "rev_r").collect()
        ids = [r["clip_id"] for r in rows]
        bad = set(ids) ^ expect
        seen: set[str] = set()
        for r in rows:
            if r["clip_id"] in seen or r["rev_r"] is None:
                bad.add(r["clip_id"])
            seen.add(r["clip_id"])
        failed = set()
        for cid in bad:
            k = int(cid.split("-")[1]) // self.rows_per_file
            failed |= {f"clips/{k}", f"side/{k}"}
        return sorted(failed)

    def prefixes(self, spark, inputs):
        def read():
            c = spark.read.schema(CLIPS_NOBYTES_SCHEMA).parquet(*inputs.files("clips"))
            s = spark.read.schema(TRANSCRIPTS_SIDE_SCHEMA).parquet(*inputs.files("side"))
            return c, s

        def scan():
            c, s = read()
            return c.select(F.sum(F.hash(*c.columns))).crossJoin(s.select(F.sum(F.hash(*s.columns))))

        def join():
            c, s = read()
            j = c.alias("c").join(
                s.alias("s"),
                F.expr(
                    "c.clip_id = s.clip_id AND s.event_time >= c.event_time "
                    f"AND s.event_time <= c.event_time + INTERVAL {JOIN_BOUND}"
                ),
            )
            return j.select(F.sum(F.hash(*[j[f"c.{x}"] for x in c.columns], *[j[f"s.{x}"] for x in s.columns])))

        return [("scan", scan), ("join", join)]


# --------------------------------------------------------------------------
# audio_dedup
# --------------------------------------------------------------------------


class AudioDedup(Workload):
    name = "audio_dedup"
    compact_every = 2
    clips_per_batch = 24

    def n_batches(self) -> int:
        return max(2, round(0.3 * self.seconds))

    def input_name(self, seed: int) -> str:
        return f"dedup-s{seed}-{self.n_batches()}x{self.clips_per_batch}"

    def input_maker(self, seed: int):
        return gen.make_dedup_files(seed, self.n_batches(), self.clips_per_batch)

    def _query(self, ctx: Ctx, src: str, sink):
        t0 = time.time()
        sdf = Flow(load_stream(src, name="clips", schema=DEDUP_SCHEMA, max_files_per_trigger=1)).dataframes(ctx.spark)["clips"]
        t1 = time.time()
        q = sdf.writeStream.outputMode("append").foreachBatch(sink).option("checkpointLocation", ctx.path("cp")).start()
        return q, t1 - t0, time.time() - t1

    def warm(self, ctx) -> None:
        df = ctx.spark.read.parquet(ctx.inputs.files("clips")[0]).limit(WARM_ROWS)
        with_audio_fingerprint(df, "bytes", "codec", "sr_hz", "clip_id").count()

    def measure(self, ctx: Ctx) -> Result:
        rows = ctx.inputs.manifest()["streams"]["clips"]["rows"]
        src = ctx.mkdir("src")
        res = Result(sink_dir=os.path.join(ctx.run_dir, "out"))
        dedup = StreamingAudioDeduper(
            res.sink_dir, num_buckets=16, collect_metrics=ctx.trace, compact_every=self.compact_every
        )
        sink = TimedSink(dedup, ctx.trace)
        with PeakRss(ctx.tree) as peak:
            land_backlog(ctx.inputs.files("clips"), src, time.time())
            cpu0 = ctx.tree.cpu_seconds()
            res.t_start = time.time()
            q, res.plan_s, res.start_s = self._query(ctx, src, sink)
            prog = wait_rows(q, ctx.listener, sum(rows))
            commits = file_commits(prog, sink.calls, rows)
            done = [c for c in commits if c is not None]
            res.t_end = max(done) if done else time.time()
            res.cpu_s = ctx.tree.cpu_seconds() - cpu0
            q.stop()
        res.peak_rss = peak.peak
        res.clips = res.rows = res.rows_cpu = input_rows(prog)
        res.wall_s = res.t_end - res.t_start
        res.latencies_ms = _latencies(commits, [res.t_start] * len(rows))
        res.landed = [[res.t_start, r] for r in rows]
        res.progress, res.calls = prog, dict(sink.calls)
        res.attempted = len(rows)
        res.uncommitted = [f"batch/{k}" for k, c in enumerate(commits) if c is None]
        res.extra["batch_metrics"] = list(dedup.batch_metrics)
        return res

    def check(self, ctx: Ctx, res: Result) -> list[str]:
        man = ctx.inputs.manifest()
        per = self.clips_per_batch
        survivors = {
            r[0] for r in StreamingAudioDeduper(res.sink_dir, num_buckets=16).read(ctx.spark).select("clip_id").collect()
        }
        failed = {f"batch/{int(c.split('-')[1]) // per}" for c in man["base_ids"] if c not in survivors}
        if any(p in survivors for p in man["planted_ids"]):
            failed.add(f"batch/{self.n_batches() - 1}")
        return sorted(failed)

    def prefixes(self, spark, inputs):
        files = inputs.files("clips")

        def scan():
            df = spark.read.parquet(*files)
            return df.select(F.count(F.lit(1)), F.sum(F.length("bytes")), F.sum(F.hash(*df.columns)))

        def fingerprint():
            fp = with_audio_fingerprint(spark.read.parquet(*files), "bytes", "codec", "sr_hz", "clip_id")
            return fp.select(F.count(F.lit(1)), F.sum(F.size("words")))

        return [("scan", scan), ("fingerprint", fingerprint)]


WORKLOADS = {w.name: w for w in (ClipsWindow, ClipsWindow1c, JoinMerge, AudioDedup)}
