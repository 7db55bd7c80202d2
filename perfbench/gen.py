"""Seeded input generation for the benchmark workloads.

Inputs are a pure function of ``(seed, layout)``: every file draws from its
own NumPy stream keyed on ``(seed, stream, file index)``, so the same seed
always yields byte-identical parquet files. Generation runs in the benchmark
process without Spark and is cached on disk per ``(seed, layout)``; the
package under test only ever sees the finished files.

The clip distribution mirrors the repository's synthetic clips table
(FIXTURES.md F1/F2): 4 sample rates, codecs skewed 82% ``pcm_s16le``, ~1% of
rows with a declared duration inconsistent with the payload, transcripts with
empty / padded / null cases, event time one clip per second with jitter and
~5% of clips late by 2-10 minutes. Revisions follow F2: ~90% of clips get 1-3
revisions within 60 s × revision number of the clip.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SR = np.array([8000, 16000, 22050, 44100])
SR_P = np.array([0.25, 0.45, 0.15, 0.15])
CODECS = np.array(["pcm_s16le", "pcm_f32le", "ulaw", "alaw"])
CODEC_P = np.array([0.82, 0.06, 0.06, 0.06])
WORDS = np.array(
    "the quick brown fox jumps over lazy dog audio clip stream spark "
    "window join state water mark late data exactly once hello world "
    "alpha beta gamma delta epsilon".split()
)
#: event time of clip 0, in microseconds since the epoch (2024-01-01 UTC)
BASE_US = 1_704_067_200 * 1_000_000

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
SIDE_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("transcript_v2", pa.string()),
        ("rev", pa.int32()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
DEDUP_SCHEMA = pa.schema(
    [("clip_id", pa.string()), ("bytes", pa.binary()), ("codec", pa.string()), ("sr_hz", pa.int32())]
)

_MU = 255.0
_A = 87.6


def encode(x: np.ndarray, codec: str) -> bytes:
    """Standard PCM / mu-law / A-law encodings of float samples in [-1, 1]."""
    x = np.clip(x.astype(np.float32), -1.0, 1.0)
    if codec == "pcm_s16le":
        return (x * 32767.0).astype("<i2").tobytes()
    if codec == "pcm_f32le":
        return x.astype("<f4").tobytes()
    if codec == "ulaw":
        y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    elif codec == "alaw":
        ax = np.abs(x)
        y = np.where(
            ax < 1.0 / _A,
            _A * ax / (1.0 + np.log(_A)),
            (1.0 + np.log(np.maximum(ax, 1.0 / _A) * _A)) / (1.0 + np.log(_A)),
        )
        y = np.sign(x) * y
    else:
        raise ValueError(f"unknown codec {codec!r}")
    return np.round((y + 1.0) * 127.5).astype(np.uint8).tobytes()


def clip_id(i: int) -> str:
    return f"clip-{i:012d}"


def _signals(rng: np.random.Generator, sr: np.ndarray, dur_ms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two-tone-plus-noise signals for many clips at once: one flat float32
    array and the start offset of every clip in it (last entry = total)."""
    n = np.rint(dur_ms * sr / 1000.0).astype(np.int64)
    off = np.concatenate([[0], np.cumsum(n)])
    w0 = np.repeat((2 * np.pi * rng.uniform(80, 1200, len(n)) / sr).astype(np.float32), n)
    w1 = np.repeat((2 * np.pi * rng.uniform(1200, 3500, len(n)) / sr).astype(np.float32), n)
    k = (np.arange(off[-1], dtype=np.int32) - np.repeat(off[:-1].astype(np.int32), n)).astype(np.float32)
    x = 0.5 * np.sin(w0 * k)
    x += 0.25 * np.sin(w1 * k)
    x += 0.05 * rng.standard_normal(off[-1], dtype=np.float32)
    return np.clip(x, -0.999, 0.999), off


def _payloads(x: np.ndarray, off: np.ndarray, codecs: np.ndarray) -> list[bytes]:
    out: list[bytes] = [b""] * len(codecs)
    for c in np.unique(codecs):
        idx = np.flatnonzero(codecs == c)
        parts = [x[off[i] : off[i + 1]] for i in idx]
        raw = encode(np.concatenate(parts), str(c))
        width = len(raw) // max(1, sum(len(p) for p in parts))
        pos = 0
        for i, p in zip(idx, parts):
            out[i] = raw[pos : pos + width * len(p)]
            pos += width * len(p)
    return out


def _transcripts(rng: np.random.Generator, n: int) -> list[str | None]:
    r = rng.random(n)
    k = rng.integers(3, 12, n)
    out: list[str | None] = []
    for ri, ki in zip(r, k):
        if ri < 0.01:
            out.append(None)
        elif ri < 0.03:
            out.append("")
        else:
            words = " ".join(WORDS[rng.integers(0, len(WORDS), ki)])
            out.append(f"  {words} " if ri < 0.05 else words)
    return out


def _event_us(rng: np.random.Generator, ids: np.ndarray) -> np.ndarray:
    offset_s = ids + rng.uniform(-0.5, 0.5, len(ids))
    late = rng.random(len(ids)) < 0.05
    offset_s = offset_s - np.where(late, rng.uniform(120, 600, len(ids)), 0.0)
    return BASE_US + (offset_s * 1e6).astype(np.int64)


def clip_table(rng: np.random.Generator, ids: range, dur_ms: tuple[int, int], payload: bool) -> pa.Table:
    n = len(ids)
    sr = SR[rng.choice(len(SR), size=n, p=SR_P)]
    dur = rng.integers(dur_ms[0], dur_ms[1] + 1, n)
    codec = CODECS[rng.choice(len(CODECS), size=n, p=CODEC_P)]
    cols: dict[str, object] = {}
    if payload:
        x, off = _signals(rng, sr, dur)
        cols["bytes"] = _payloads(x, off, codec)
    # ~1% of rows: declared duration disagrees with the payload
    dur = dur + np.where(rng.random(n) < 0.01, rng.integers(50, 500, n), 0)
    cols.update(
        clip_id=[clip_id(i) for i in ids],
        sr_hz=sr.astype(np.int32),
        dur_ms=dur.astype(np.int32),
        codec=codec.tolist(),
        transcript=_transcripts(rng, n),
        event_time=_event_us(rng, np.arange(ids.start, ids.stop)),
    )
    schema = CLIP_SCHEMA if payload else CLIP_SCHEMA.remove(CLIP_SCHEMA.get_field_index("bytes"))
    return pa.table({f.name: cols[f.name] for f in schema}, schema=schema)


def side_table(rng: np.random.Generator, ids: range) -> pa.Table:
    n = len(ids)
    matched = rng.random(n) <= 0.9
    n_rev = np.where(matched, rng.integers(1, 4, n), 0)
    owner = np.repeat(np.arange(ids.start, ids.stop), n_rev)
    rev = np.concatenate([np.arange(1, r + 1) for r in n_rev]) if n_rev.sum() else np.zeros(0, int)
    lag = rng.uniform(0, 60, len(owner)) * rev
    k = rng.integers(3, 10, len(owner))
    return pa.table(
        {
            "clip_id": [clip_id(int(i)) for i in owner],
            "transcript_v2": [" ".join(WORDS[rng.integers(0, len(WORDS), ki)]) for ki in k],
            "rev": rev.astype(np.int32),
            "event_time": BASE_US + ((owner + lag) * 1e6).astype(np.int64),
        },
        schema=SIDE_SCHEMA,
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


class InputSet:
    """A cached, seed-determined directory of input files plus a manifest.

    ``root/<name>/files/<stream>/NNNNN.parquet``; ``manifest.json`` records
    the rows of every file and anything an oracle needs (planted ids)."""

    def __init__(self, cache_root: str, name: str):
        self.dir = os.path.join(cache_root, name)
        self.manifest_path = os.path.join(self.dir, "manifest.json")

    def ready(self) -> bool:
        return os.path.exists(self.manifest_path)

    def files(self, stream: str) -> list[str]:
        d = os.path.join(self.dir, "files", stream)
        return [os.path.join(d, f) for f in sorted(os.listdir(d))]

    def manifest(self) -> dict:
        with open(self.manifest_path) as fh:
            return json.load(fh)

    def build(self, make) -> None:
        """Run ``make(stream_dir_fn) -> manifest`` into a temp dir, then
        publish it atomically."""
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)

        def stream_dir(stream: str) -> str:
            d = os.path.join(tmp, "files", stream)
            os.makedirs(d, exist_ok=True)
            return d

        manifest = make(stream_dir)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)


def evict(cache_root: str, prefix: str, keep: str, max_kept: int = 2) -> None:
    """Bound the cache: keep ``keep`` and the newest others of one kind."""
    if not os.path.isdir(cache_root):
        return
    others = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith(prefix) and d != keep
    ]
    others.sort(key=os.path.getmtime, reverse=True)
    for d in others[max_kept - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def make_clip_files(
    seed: int, groups: list[tuple[str, int, int]], dur_ms: tuple[int, int], payload: bool, side: bool
):
    """Input maker for clip streams. ``groups`` is ``[(stream, n_files,
    rows_per_file)]``; ids run on across groups in order, so a later group
    continues the event time of the earlier one. With ``side`` every clip
    file gets a revisions file over the same id range in stream ``side``."""

    def make(stream_dir) -> dict:
        manifest: dict = {"seed": seed, "streams": {}}
        next_id = 0
        for g, (stream, n_files, rows) in enumerate(groups):
            d = stream_dir(stream)
            rows_of = []
            for k in range(n_files):
                rng = np.random.default_rng([seed, g, k])
                ids = range(next_id, next_id + rows)
                _write(clip_table(rng, ids, dur_ms, payload), os.path.join(d, f"{k:05d}.parquet"))
                if side:
                    t = side_table(np.random.default_rng([seed, 1000 + g, k]), ids)
                    sd = stream_dir("side")
                    n_side = len(os.listdir(sd))
                    _write(t, os.path.join(sd, f"{n_side:05d}.parquet"))
                    manifest["streams"].setdefault("side", {"rows": []})["rows"].append(t.num_rows)
                rows_of.append(rows)
                next_id += rows
            manifest["streams"][stream] = {"rows": rows_of}
        return manifest

    return make


def make_dedup_files(seed: int, n_batches: int, clips_per_batch: int, planted_frac: float = 0.05):
    """Input maker for the audio-dedup stream: ``n_batches`` id-ordered files of
    1-3 s clips; the final file also carries ulaw re-encodes (0.9× gain,
    id suffix ``-re``) of ~``planted_frac`` of the clips of earlier files."""

    def make(stream_dir) -> dict:
        d = stream_dir("clips")
        rng_plant = np.random.default_rng([seed, 7])
        planted: list[dict] = []
        rows_of = []
        base_ids = []
        for b in range(n_batches):
            rng = np.random.default_rng([seed, 0, b])
            ids = range(b * clips_per_batch, (b + 1) * clips_per_batch)
            sr = SR[rng.choice(len(SR), size=len(ids), p=SR_P)]
            codec = CODECS[rng.choice(len(CODECS), size=len(ids), p=CODEC_P)]
            x, off = _signals(rng, sr, rng.integers(1000, 3001, len(ids)))
            cols: dict[str, list] = {
                "clip_id": [clip_id(i) for i in ids],
                "bytes": _payloads(x, off, codec),
                "codec": codec.tolist(),
                "sr_hz": sr.tolist(),
            }
            base_ids.extend(cols["clip_id"])
            if b < n_batches - 1:
                # clip 0 is always planted so even the smallest size checks recall
                pick = rng_plant.random(len(ids)) < planted_frac
                pick[0] |= b == 0
                for j in np.flatnonzero(pick):
                    planted.append(
                        {
                            "clip_id": cols["clip_id"][j] + "-re",
                            "bytes": encode(0.9 * x[off[j] : off[j + 1]], "ulaw"),
                            "codec": "ulaw",
                            "sr_hz": int(sr[j]),
                        }
                    )
            if b == n_batches - 1:
                for p in planted:
                    for k in cols:
                        cols[k].append(p[k])
            _write(pa.table(cols, schema=DEDUP_SCHEMA), os.path.join(d, f"{b:05d}.parquet"))
            rows_of.append(len(cols["clip_id"]))
        return {
            "seed": seed,
            "streams": {"clips": {"rows": rows_of}},
            "base_ids": base_ids,
            "planted_ids": [p["clip_id"] for p in planted],
        }

    return make
