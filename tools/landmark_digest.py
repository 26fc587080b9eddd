"""Fingerprint every staged clip's landmark output, and time decode and
resample per (codec, rate) stratum.

Runs ``dsp.clip_landmarks_batch`` (Spark-free, one thread) over every
row of every parquet file under the given directory, in file order.
Prints one ``clip_id  sha256`` line per clip, where the digest covers
the clip's int64 hashes, int32 t_ms and ``reason`` (``None`` when the
clip decoded). Two checkouts whose lines are equal produce the same
landmarks and the same quarantine reasons bit for bit.

Then prints one ``stratum codec@sr_hz  clips N  decode_ms X  resample_ms Y``
line per stratum: the mean ``process_time`` of ``codec.decode`` and of
``dsp.resample`` (to ``dsp.SR_REF``) over the stratum's decodable clips.
The timings vary from run to run; only the digest lines are meant to
be compared exactly.

Usage: python tools/landmark_digest.py PARQUET_DIR
(for example a staged benchmark input such as
perfbench/.cache/clips_mixed-s1/src; the directory is only read)
"""

from __future__ import annotations

import os

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import hashlib  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkfp import codec, dsp  # noqa: E402


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def main() -> None:
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit("usage: python tools/landmark_digest.py PARQUET_DIR")
    strata: dict[str, list[tuple[float, float]]] = {}
    for path in _parquet_files(sys.argv[1]):
        pdf = pq.read_table(path, columns=["clip_id", "bytes", "codec", "sr_hz"]).to_pandas()
        offsets, hashes, t_ms, reason = dsp.clip_landmarks_batch(pdf)
        for i, cid in enumerate(pdf["clip_id"].tolist()):
            lo, hi = int(offsets[i]), int(offsets[i + 1])
            d = hashlib.sha256(hashes[lo:hi].tobytes())
            d.update(t_ms[lo:hi].tobytes())
            d.update(repr(reason[i]).encode())
            print(f"{cid}  {d.hexdigest()}")
            if reason[i] is not None:
                continue
            raw, name, sr = bytes(pdf["bytes"][i]), pdf["codec"][i], int(pdf["sr_hz"][i])
            t0 = time.process_time()
            pcm = codec.decode(raw, name)
            t1 = time.process_time()
            if sr != dsp.SR_REF:
                dsp.resample(pcm, sr, dsp.SR_REF)
            t2 = time.process_time()
            strata.setdefault(f"{name}@{sr}", []).append((t1 - t0, t2 - t1))
    for key in sorted(strata):
        ts = strata[key]
        dec = 1000.0 * sum(a for a, _ in ts) / len(ts)
        res = 1000.0 * sum(b for _, b in ts) / len(ts)
        print(f"stratum {key}  clips {len(ts)}  decode_ms {dec:.1f}  resample_ms {res:.1f}")


if __name__ == "__main__":
    main()
