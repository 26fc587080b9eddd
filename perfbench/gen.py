"""Input staging: every workload's input is made from the seed alone,
written as parquet with pyarrow (no Spark), and cached under
``perfbench/.cache/<workload>-s<seed>/`` so a repeat run with the same
seed skips synthesis. The engine only ever sees the staged parquet
files; the ground truth stays on the benchmark side.

Work per corpus is held constant across seeds (stratified draws: an
exact noise share, an exact codec/rate mix, a fixed corrupt-row count)
so that seed-to-seed spread measures the machine and the program, not
the luck of the draw.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

SR = 8000
NOISE_SHARE = 0.3
CATALOGUE_SEED = 42  # the catalogue is fixed; the run seed drives the clips
CATALOGUE_TRACKS = 8
CATALOGUE_FILES = 8  # one scan task per file: the index build runs in parallel
EVENT_BASE_MS = 1_700_000_000_000

CLIP_SCHEMA = pa.schema(
    [
        pa.field("clip_id", pa.string(), False),
        pa.field("bytes", pa.binary(), False),
        pa.field("sr_hz", pa.int32(), False),
        pa.field("dur_ms", pa.int32(), False),
        pa.field("codec", pa.string(), False),
        pa.field("transcript", pa.string(), False),
        pa.field("event_ms", pa.int64(), False),
    ]
)

# clips_drain: 8 kHz pcm_s16le, 3-8 s; 16 files of ~11 MB, each one scan
# task, 8 per trigger: two tasks per core, so one slow core does not
# hold up the whole trigger
DRAIN_CLIPS = 2048
DRAIN_FILES = 16
DRAIN_DUR_MS = (3000, 8000)

# clips_mixed: (codec, sr_hz) strata in two groups of about equal decode
# and resample cost; a file holds one clip of each stratum of its group,
# so the scan tasks of a drain carry the same mix. Sixteen files in one
# trigger are four tasks per core: a core the host slows down takes
# fewer of them instead of holding up the batch
MIXED_GROUPS = (
    (("ulaw", 8000), ("mp2", 48000), ("flac", 22050), ("adpcm", 11025)),
    (("adpcm", 16000), ("mp1", 32000), ("flac", 44100), ("mp2", 32000)),
)
MIXED_FILES = 16
# fixed, as decode and resample cost scale with it; long enough that they
# outweigh a drain's fixed cost (a drain of 32 two-second clips took 9 CPU
# s, of 64 12.5 CPU s: some 5.5 CPU s of it did not depend on the clips)
MIXED_DUR_MS = 4000
# two corrupt rows on fixed strata (the seed picks their files): one cut
# mid-stream, one tagged with a codec the engine does not carry
MIXED_TRUNCATED = ("adpcm", 16000)
MIXED_UNKNOWN = ("flac", 22050)
UNKNOWN_CODEC = "ogg"

FILES_PER_TRIGGER = {"clips_drain": 8, "clips_mixed": MIXED_FILES}

# the sensor leg of the traced run (the reference's core job): 1 Hz events
# of SENSOR_EQUIP equipment ids x 5 sensors over SENSOR_SECONDS, written
# as SENSOR_FILES event-time slices that the stream reads one per trigger
SENSOR_EQUIP = 16
SENSOR_SECONDS = 240
SENSOR_FILES = 4
SENSOR_SCHEMA = pa.schema(
    [
        pa.field("equip_id", pa.string(), False),
        pa.field("ts_ms", pa.int64(), False),
        pa.field("data", pa.map_(pa.string(), pa.string()), False),
    ]
)


def track_ids() -> list[str]:
    from sparkfp import synth

    return synth.default_track_ids(CATALOGUE_TRACKS)


def _write_clips(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, CLIP_SCHEMA)],
        schema=CLIP_SCHEMA,
    )
    pq.write_table(table, path)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def catalogue_path() -> str:
    """Parquet directory of the reference tracks (index build side),
    cached once; its content does not depend on the run seed."""
    path = os.path.join(CACHE, f"catalogue-{CATALOGUE_TRACKS}")
    if os.path.exists(path):
        return path
    from sparkfp import codec, synth

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ids = track_ids()
    for i in range(CATALOGUE_FILES):
        rows = []
        for tid in ids[i::CATALOGUE_FILES]:
            pcm = synth.track_pcm(tid, seed=CATALOGUE_SEED)
            rows.append((tid, codec.encode(pcm, "pcm_s16le"), SR,
                         len(pcm) * 1000 // SR, "pcm_s16le", "", 0))
        _write_clips(rows, os.path.join(tmp, f"part-{i:04d}.parquet"))
    os.replace(tmp, path)
    return path


# ------------------------------------------------------------ clip synthesis


@functools.lru_cache(maxsize=None)
def _track_pcm(tid: str, sr: int) -> np.ndarray:
    """Catalogue track at ``sr``, synthesized analytically (no resampler);
    cached for the life of a staging worker."""
    from sparkfp import synth

    return synth.track_pcm(tid, seed=CATALOGUE_SEED, sr_hz=sr)


def _clip(rng, clip_id, is_noise, sr, cname, dur_ms, event_ms):
    """One clip row plus its ground truth. Same recipe as
    sparkfp.synth.clip_row: a track excerpt with 1% noise, or 10% noise."""
    from sparkfp import codec

    n = int(sr * dur_ms / 1000)
    if is_noise:
        pcm = (0.1 * rng.standard_normal(n)).astype(np.float32)
        truth = {"noise": True, "track": None, "offset_ms": None}
    else:
        tracks = track_ids()
        tid = tracks[int(rng.integers(0, len(tracks)))]
        full = _track_pcm(tid, sr)
        off = int(rng.integers(0, max(len(full) - n, 1)))
        pcm = full[off: off + n].copy()
        pcm += (0.01 * rng.standard_normal(len(pcm))).astype(np.float32)
        truth = {"noise": False, "track": tid, "offset_ms": off * 1000 // sr}
    raw = codec.encode(np.clip(pcm, -1.0, 1.0), cname, sr_hz=sr)
    return (clip_id, raw, sr, dur_ms, cname, "", int(event_ms)), truth


def _noise_flags(rng, n: int) -> np.ndarray:
    flags = np.zeros(n, dtype=bool)
    flags[: int(round(n * NOISE_SHARE))] = True
    rng.shuffle(flags)
    return flags


def _drain_file(args) -> dict:
    """Worker: one parquet file of 8 kHz pcm_s16le clips."""
    seed, file_idx, first, noise, path = args
    rng = np.random.default_rng([seed, 1, file_idx])
    rows, truth = [], {}
    for j, nz in enumerate(noise):
        cid = f"clip_{first + j:06d}"
        dur = int(rng.integers(DRAIN_DUR_MS[0], DRAIN_DUR_MS[1] + 1))
        row, truth[cid] = _clip(rng, cid, bool(nz), SR, "pcm_s16le", dur,
                                EVENT_BASE_MS + first + j)
        rows.append(row)
    _write_clips(rows, path)
    return truth


def _mixed_file(args) -> dict:
    """Worker: one parquet file with one clip per stratum of its group;
    ``corrupt`` maps a stratum index to 'truncated' or 'unknown'."""
    seed, file_idx, noise, corrupt, path = args
    rng = np.random.default_rng([seed, 2, file_idx])
    rows, truth = [], {}
    for k, (cname, sr) in enumerate(MIXED_GROUPS[file_idx % 2]):
        cid = f"mix_{file_idx:02d}_{k:02d}"
        row, t = _clip(rng, cid, bool(noise[k]), sr, cname, MIXED_DUR_MS,
                       EVENT_BASE_MS + k)
        kind = corrupt.get(k)
        if kind == "truncated":
            # cut mid-stream at an odd byte: no sparkfp decoder can accept a
            # partial block, frame or sample at that point
            row = (row[0], row[1][: len(row[1]) // 2 + 1]) + row[2:]
        elif kind == "unknown":
            row = row[:4] + (UNKNOWN_CODEC,) + row[5:]
        if kind:
            t = {"noise": True, "track": None, "offset_ms": None, "corrupt": kind}
        rows.append(row)
        truth[cid] = t
    _write_clips(rows, path)
    return truth


def _jobs_drain(seed: int, src: str) -> tuple:
    noise = _noise_flags(np.random.default_rng([seed, 1]), DRAIN_CLIPS)
    per = DRAIN_CLIPS // DRAIN_FILES
    return _drain_file, [
        (seed, i, i * per, noise[i * per: (i + 1) * per],
         os.path.join(src, f"part-{i:04d}.parquet"))
        for i in range(DRAIN_FILES)
    ]


def _jobs_mixed(seed: int, src: str) -> tuple:
    rng = np.random.default_rng([seed, 2])
    n = len(MIXED_GROUPS[0])
    noise = _noise_flags(rng, MIXED_FILES * n).reshape(MIXED_FILES, n)
    corrupt: dict[int, dict[int, str]] = {f: {} for f in range(MIXED_FILES)}
    for stratum, kind in ((MIXED_TRUNCATED, "truncated"), (MIXED_UNKNOWN, "unknown")):
        g = next(i for i, grp in enumerate(MIXED_GROUPS) if stratum in grp)
        f = 2 * int(rng.integers(MIXED_FILES // 2)) + g
        corrupt[f][MIXED_GROUPS[g].index(stratum)] = kind
    return _mixed_file, [
        (seed, f, noise[f], corrupt[f], os.path.join(src, f"part-{f:04d}.parquet"))
        for f in range(MIXED_FILES)
    ]


JOBS = {"clips_drain": _jobs_drain, "clips_mixed": _jobs_mixed}


def stage_sensors(seed: int) -> dict:
    """Stage (or reuse) the sensor events of the traced run's sensor leg.
    Files get increasing modification times, so the file source reads
    them in event-time order. Returns {src, events, digest, end_ms}."""
    from sparkfp import synth

    root = os.path.join(CACHE, f"sensors-s{seed}")
    src = os.path.join(root, "src")
    manifest = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "src"))
        equip = [str(100 + i) for i in range(SENSOR_EQUIP)]
        pdf = pd_concat(synth.sensor_events_pdf(seed, e, SENSOR_SECONDS, EVENT_BASE_MS,
                                                synth.DEFAULT_SENSORS) for e in equip)
        pdf = pdf.sort_values(["ts_ms", "equip_id"], kind="stable")
        per = SENSOR_SECONDS // SENSOR_FILES * 1000
        for i in range(SENSOR_FILES):
            part = pdf[(pdf.ts_ms - EVENT_BASE_MS) // per == i]
            table = pa.Table.from_pydict(
                {"equip_id": list(part.equip_id), "ts_ms": list(part.ts_ms),
                 "data": [list(d.items()) for d in part.data]},
                schema=SENSOR_SCHEMA)
            path = os.path.join(tmp, "src", f"part-{i:04d}.parquet")
            pq.write_table(table, path)
            os.utime(path, (EVENT_BASE_MS // 1000 + i,) * 2)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"events": len(pdf), "digest": _digest(os.path.join(tmp, "src")),
                       "end_ms": int(pdf.ts_ms.max())}, f)
        os.replace(tmp, root)
    with open(manifest) as f:
        m = json.load(f)
    m["src"] = src
    return m


def pd_concat(frames):
    import pandas as pd

    return pd.concat(list(frames), ignore_index=True)


def stage(workload: str, seed: int) -> dict:
    """Stage (or reuse) the workload's input. Returns the manifest:
    source dir, catalogue dir, ground truth, digest of every staged file
    (catalogue included), and stage_s (~0 when the cache held it)."""
    t0 = time.perf_counter()
    root = os.path.join(CACHE, f"{workload}-s{seed}")
    manifest = os.path.join(root, "manifest.json")
    cat = catalogue_path()
    if not os.path.exists(manifest):
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        fn, jobs = JOBS[workload](seed, src)
        truth = {}
        workers = max(1, min(4, os.cpu_count() or 1))
        with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as ex:
            for t in ex.map(fn, jobs):
                truth.update(t)
        digest = hashlib.sha256((_digest(tmp) + _digest(cat)).encode()).hexdigest()
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"digest": digest, "truth": truth}, f)
        os.replace(tmp, root)
    with open(manifest) as f:
        m = json.load(f)
    m.update(src=os.path.join(root, "src"), catalogue=cat,
             stage_s=time.perf_counter() - t0)
    return m
