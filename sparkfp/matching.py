"""Fingerprint index build + match join + offset-histogram voting.

Graft analog of the reference's fingerprint<->readings window
correlation (src/postprocess/save_fingerprints.py:66-153): the
reference buffers raw readings per key and probes each fingerprint
against them; here live clip landmarks probe a reference track index,
and matches are ranked by offset-histogram votes (Wang 2003 §3.2).

Scale design:
- The index is an Iceberg/parquet table laid out by ``hash`` so the
  probe side shuffles once on the same key and the join is local.
  On this sandbox it is small enough to **broadcast**, which removes
  the shuffle entirely; at 100 TB / millions of tracks the
  ``broadcast=False`` path keeps a bucketed sort-merge/shuffle-hash
  join with AQE skew splitting.
- Landmark hashes are Zipf-ish (common note pairs are hot keys).
  The vote aggregation is a two-phase salted aggregate: partial
  counts per (clip, track, offset, salt) then merge — Spark's
  partial aggregation handles phase 1 automatically since the group
  key includes clip_id (high cardinality); explicit salting is only
  needed for the join build side, handled by AQE skew-join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import dedup, dsp

OFFSET_BIN_MS = 100
# Measured separation on the synthetic corpus (768 clips, 8 tracks):
# true matches: >= 1543 votes, score (votes/sec of audio) >= 468;
# noise clips: <= 28 votes, score <= 5.8. Thresholds sit roughly an
# order of magnitude inside the gap on each side.
MIN_VOTES = 200
MIN_SCORE = 50.0


def build_index(tracks: DataFrame) -> DataFrame:
    """tracks(track_id, bytes, sr_hz, codec, ...) -> (hash, track_id, t_track_ms).

    Same DSP chain as the probe side (dsp.landmarks) so hashes align.
    """
    lm = dsp.landmarks(tracks.withColumnRenamed("track_id", "clip_id"))
    return lm.select(
        "hash",
        F.col("clip_id").alias("track_id"),
        F.col("t_ms").alias("t_track_ms"),
    )


def match(
    landmarks: DataFrame,
    index: DataFrame,
    min_votes: int = MIN_VOTES,
    min_score: float = MIN_SCORE,
    broadcast_index: bool = True,
    clip_meta: DataFrame | None = None,
) -> DataFrame:
    """Probe landmarks against the index; emit one best match per clip.

    (clip_id, matched_track, offset_ms, vote_count[, score]) where
    score = votes per second of clip audio (needs ``clip_meta`` with
    (clip_id, dur_ms); joined only against the tiny match result, so
    the landmark branch is computed exactly once — no second
    extraction pass). Noise clips fail min_votes / min_score.
    """
    idx = F.broadcast(index) if broadcast_index else index
    joined = landmarks.join(idx, "hash").select(
        "clip_id",
        "track_id",
        (
            (F.col("t_track_ms") - F.col("t_ms")) / OFFSET_BIN_MS
        ).cast("long").alias("offset_bin"),
    )
    votes = joined.groupBy("clip_id", "track_id", "offset_bin").agg(
        F.count("*").alias("vote_count")
    )
    best = _best_per_clip(votes, OFFSET_BIN_MS, min_votes)
    if clip_meta is None:
        return best
    meta = clip_meta.select("clip_id", "dur_ms")
    return (
        best.join(meta, "clip_id")
        .withColumn("score", F.col("vote_count") / (F.col("dur_ms") / 1000.0))
        .drop("dur_ms")
        .filter(F.col("score") >= min_score)
    )


def _best_per_clip(votes: DataFrame, bin_ms: int, min_votes: int) -> DataFrame:
    """(clip_id, track_id, offset_bin, vote_count) -> one row per clip:
    the most-voted (track, offset bin), ties to the lower track then
    the lower bin, kept when it has ``min_votes``. Output is
    (clip_id, matched_track, offset_ms, vote_count)."""
    w = Window.partitionBy("clip_id").orderBy(
        F.desc("vote_count"), F.asc("track_id"), F.asc("offset_bin")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("vote_count") >= min_votes))
        .select(
            "clip_id",
            F.col("track_id").alias("matched_track"),
            (F.col("offset_bin") * bin_ms).alias("offset_ms"),
            "vote_count",
        )
    )


def index_arrays(index: DataFrame):
    """Collect the index into sorted numpy arrays for the fused matcher.

    Returns (sorted_hashes int64, track_codes int32, track_names list,
    t_track_ms int64). At 10^12-clip scale the index itself is still
    small (one row per track landmark); it ships to executors once as
    a Spark broadcast variable, exactly like the relational
    broadcast-hash-join build side.
    """
    pdf = index.toPandas()
    names = sorted(pdf["track_id"].unique().tolist())
    code = {t: i for i, t in enumerate(names)}
    h = pdf["hash"].to_numpy(np.int64)
    order = np.argsort(h, kind="stable")
    return (
        h[order],
        pdf["track_id"].map(code).to_numpy(np.int32)[order],
        names,
        pdf["t_track_ms"].to_numpy(np.int64)[order],
    )


def match_clips_fused(
    clips: DataFrame,
    index: DataFrame,
    min_votes: int = MIN_VOTES,
    min_score: float = MIN_SCORE,
) -> DataFrame:
    """Fused per-clip matcher: decode -> landmarks -> index probe ->
    offset-histogram vote -> top-1, all inside one Arrow stage.

    The relational pipeline shuffles every joined vote row
    (~25k rows/clip); since votes are aggregated per clip and a clip's
    landmarks are computed where the clip's bytes already sit, the
    whole match is per-partition-local given a broadcast index. Zero
    shuffles, embarrassingly parallel — this is the scale path the
    N-vs-4N criterion measures. `match()` remains the general path for
    a non-broadcastable index (bucketed shuffle join).

    Parallelism comes from the SOURCE layout (Iceberg bucket(clip_id)
    partitioning / enough files): no repartition is inserted here —
    shuffling raw clip bytes through disk would serialize the job on
    shared storage. Repartition upstream only if the scan yields fewer
    partitions than cores.

    Per clip, the probe is one left ``searchsorted`` of its landmark
    hashes over the index's hash runs; every hit's index position comes
    from one ``arange`` shifted by its run's start; the offset bin is
    Spark's ``(x / OFFSET_BIN_MS).cast(long)`` in float64, exactly; and
    :func:`vote` counts (track, bin) pairs with a memory bound of the
    hit count.

    Verified equal to the relational matcher in tests/test_matching.py.
    """
    sc = clips.sparkSession.sparkContext
    bc = sc.broadcast(index_arrays(index))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sh, codes, names, t_track = bc.value
        # sentinel above every landmark hash: each probe's insertion
        # point is in range, so an empty index needs no special case
        sh = np.r_[sh, np.iinfo(np.int64).max]
        # run-length view of the sorted hash index, built once per task:
        # run_mult[p] = multiplicity of the hash run starting at p. One
        # left-searchsorted then replaces the left+right pair (the left
        # insertion point of a present hash is always its run start) —
        # measured 0.35 -> 0.17 ms/clip on the probe.
        starts = np.flatnonzero(np.r_[True, sh[1:] != sh[:-1]])
        run_mult = np.zeros(len(sh), dtype=np.int64)
        run_mult[starts] = np.diff(np.r_[starts, len(sh)])
        for pdf in batches:
            # corrupt rows get an empty slice, hence no match row (see
            # dsp.quarantine_clips) instead of a task kill
            offsets, hs, ts, _ = dsp.clip_landmarks_batch(pdf)
            out = []
            for cid, dur, a, b in zip(
                pdf["clip_id"].tolist(), pdf["dur_ms"].tolist(),
                offsets[:-1], offsets[1:],
            ):
                h = hs[a:b]
                lo = np.searchsorted(sh, h)
                mult = np.where(sh[lo] == h, run_mult[lo], 0)
                total = int(mult.sum())
                if not total:
                    continue
                # the index positions of every hit: landmark i's run
                # lo[i] .. lo[i] + mult[i] - 1, in one arange shifted by
                # each run's start less the hits before it
                cand = np.arange(total) + np.repeat(lo - (np.cumsum(mult) - mult), mult)
                d = t_track[cand] - np.repeat(ts[a:b].astype(np.int64), mult)
                # Spark's (x / bin).cast(long), exactly: a float64
                # quotient truncated toward zero
                offset_bin = (d / OFFSET_BIN_MS).astype(np.int64)
                code, off_bin, votes = vote(codes[cand], offset_bin)
                score = votes / (int(dur) / 1000.0)
                if votes >= min_votes and score >= min_score:
                    out.append(
                        (cid, names[code], off_bin * OFFSET_BIN_MS, votes, score)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "clip_id", "matched_track", "offset_ms", "vote_count", "score"
                ],
            )

    return clips.mapInPandas(
        run,
        "clip_id string, matched_track string, offset_ms long, "
        "vote_count long, score double",
    )


def vote(codes: np.ndarray, offset_bin: np.ndarray) -> tuple[int, int, int]:
    """Offset-histogram vote over one clip's index hits (>= 1):
    (track_code, offset_bin, votes) of the most-voted (track, offset)
    pair, ties broken to the smallest pair — the relational matcher's
    row_number order.

    The (track, offset) pairs are packed into keys lexicographic in
    (track, offset), so the first maximum is the tie-break winner.
    When the box of codes × offsets the hits span has at most 8 cells
    per hit, a dense ``bincount`` counts them; otherwise a sort
    (``np.unique``) does. Either way memory is bounded by the hit
    count whatever the track codes and offsets are. The key fits int64
    whenever track codes and both millisecond times are non-negative
    int32."""
    omin = int(offset_bin.min())
    span = int(offset_bin.max()) - omin + 1
    cmin = int(codes.min())
    key = (codes.astype(np.int64) - cmin) * span + (offset_bin - omin)
    if (int(codes.max()) - cmin + 1) * span <= 8 * len(key):
        counts = np.bincount(key)
        winner = int(np.argmax(counts))
        n = int(counts[winner])
    else:
        keys, counts = np.unique(key, return_counts=True)
        best = int(np.argmax(counts))
        winner, n = int(keys[best]), int(counts[best])
    return winner // span + cmin, winner % span + omin, n


def match_pipeline(clips: DataFrame, index: DataFrame) -> DataFrame:
    """clips -> landmarks -> match rows (one stage chain, single shuffle
    at the vote aggregation): :func:`match` with the broadcast index and
    the default thresholds, scored against ``clips``' own durations."""
    return match(dsp.landmarks(clips), index, clip_meta=clips)


# ------------------------------------------------- audio near-duplicates


def near_dup_audio_pairs(clips: DataFrame) -> DataFrame:
    """Fingerprint-based audio near-duplicate pairs.

    A training-data pipeline over 10^12 clips must drop re-encodes of
    the same recording (other codec, other sample rate, re-compressed)
    before they skew the corpus. Landmark hashes are exactly the right
    invariant: decode -> resample-to-SR_REF -> constellation hashes
    survive G.711/ADPCM recompression and rate conversion, so two
    encodings of one recording share most of their hash sets while
    distinct recordings share almost none (Wang 2003's robustness
    property, reused for dedup instead of lookup).

    Plan (all relational, shuffle-bounded):
      landmarks -> distinct (clip, hash)
        -> drop hub hashes with document frequency > 64
           (a hash shared by many clips carries no pair information
           but would quadratically inflate the self-join — the
           standard posting-list cap; at 10^12 clips this cap is what
           keeps the join linear in corpus size)
        -> dedup.set_jaccard_pairs, the self-join the text Jaccard
           runs: self-join on hash, per-pair shared-hash count,
           Jaccard vs each clip's distinct-hash count, threshold 0.2.

    Returns (clip_a, clip_b, shared, jaccard), clip_a < clip_b.
    Reference parity anchor: the same landmark chain the reference
    builds its lookup index from (src/flink_job/job.py:63-75) — dedup
    is the index join turned on the corpus itself.
    """
    lm = dsp.landmarks(clips)
    h = lm.select(F.col("clip_id").alias("id"), F.col("hash").alias("item")).distinct()
    rare = h.groupBy("item").agg(F.count("*").alias("df")).where(F.col("df") <= 64)
    pairs = dedup.set_jaccard_pairs(h.join(rare.select("item"), "item"), 0.2)
    return pairs.select(
        F.col("id_a").alias("clip_a"), F.col("id_b").alias("clip_b"), "shared",
        F.round("jaccard", 6).alias("jaccard"),
    )


def clip_signatures(clips: DataFrame) -> DataFrame:
    """(clip_id, event_ms, sig) — 16-MinHash signature over each clip's
    distinct landmark-hash set, computed INSIDE the same Arrow pass as
    landmark extraction (decode -> resample -> STFT -> hashes ->
    minhash per row). No shuffle and no stateful aggregation, so the
    stage is streaming-safe and embarrassingly parallel — the property
    the banded suppressor needs upstream of its keyed state.

    The signature comes from the text MinHash's kernel
    (dedup.minhash_signer: md5 hex of ``"{i}:{value}"``, lexicographic
    min), with the landmark hash's decimal string as the value — so
    dedup.explode_bands consumes the signature unchanged. Clips with zero
    landmarks are dropped (an empty fingerprint cannot claim a band).
    """
    out_schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("event_ms", T.LongType(), False),
            T.StructField("sig", T.ArrayType(T.StringType()), False),
        ]
    )
    cols = ["clip_id", "bytes", "sr_hz", "codec", "event_ms"]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sign = dedup.minhash_signer(16)
        for pdf in batches:
            offsets, h, _, _ = dsp.clip_landmarks_batch(pdf)
            keep = np.diff(offsets) > 0
            sigs = [
                sign({str(v) for v in h[a:b].tolist()})
                for a, b in zip(offsets[:-1], offsets[1:]) if b > a
            ]
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].to_numpy(object)[keep],
                    "event_ms": pdf["event_ms"].to_numpy(np.int64)[keep],
                    "sig": pd.Series(sigs, dtype=object),
                }
            )

    return clips.select(*cols).mapInPandas(extract, out_schema)


def banded_clips(clips: DataFrame) -> DataFrame:
    """(clip_id, event_ms, band_idx, band): the audio banding, 4 bands
    of 4 MinHashes, for the generic near-dup suppressors
    (dedup.suppress_from_banded and, on a stream,
    dedup.near_dup_band_verdicts_stream). dedup.explode_bands
    runs over the ALREADY-materialized signature column (the Python
    eval node is a plan barrier), the same plan shape the text path
    uses to stay in whole-stage codegen through the posexplode."""
    sig = clip_signatures(clips).withColumnRenamed("sig", "_sig")
    return dedup.explode_bands(sig, ["clip_id", "event_ms"], 16, 4)


def near_dup_clips_batch(clips: DataFrame) -> DataFrame:
    """Greedy first-wins audio near-dup filter, batch form: a clip
    survives iff it is the earliest (event_ms, id tiebreak) on every
    one of its landmark-minhash LSH bands. Re-encodes and resampled
    copies of a recording land on the same bands (their landmark sets
    nearly coincide), so only the first-seen copy survives."""
    banded = banded_clips(clips)
    return dedup.suppress_from_banded(clips, banded, "clip_id", "event_ms")

