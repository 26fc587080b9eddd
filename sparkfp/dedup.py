"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash + LSH banding, SimHash, n-gram Jaccard,
and embedding-cosine near-dup. All hashing is md5-based so an external
SQL oracle (DuckDB) can reproduce every intermediate bit-for-bit —
no engine-specific hash functions on the result path.

Scale design:
- exact dedup: one shuffle on the content hash; at 100 TB this is a
  groupBy over a ~64-char key — AQE coalesces the post-shuffle
  partitions.
- MinHash-LSH: signatures are computed scan-side (no shuffle), the
  only shuffle is the band-bucket self-join; band buckets with a
  single doc never materialize a pair. Candidate verification
  (true Jaccard) touches only candidate pairs, not the n^2 space.
- SimHash: bit-vote aggregation is a single groupBy over doc_id
  (map-side combinable); near-dup candidates join on 8-bit chunks
  (pigeonhole: hamming<=3 over 32 bits implies one equal chunk).
"""

from __future__ import annotations

from typing import Iterator  # noqa: UP035 — module-level so pyspark's
# type-hint inference can resolve the iterator pandas-UDF signature
# (PEP 563 string annotations resolve against module globals)

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- exact


def content_hash(*cols: str) -> Column:
    return F.md5(F.concat_ws("\x1f", *[F.col(c) for c in cols]))


def exact_duplicate_groups(df: DataFrame, id_col: str, *content_cols: str) -> DataFrame:
    """Groups of byte-identical rows: (content_hash, n_dups, keeper_id).

    keeper = min id; rows with n_dups == 1 are unique."""
    return (
        df.withColumn("content_hash", content_hash(*content_cols))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, *content_cols: str) -> DataFrame:
    """Keep one row (min id) per distinct content."""
    groups = exact_duplicate_groups(df, id_col, *content_cols).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(groups, id_col, "left_semi")


def exact_dedup_stream(
    stream: DataFrame, ts_col: str, watermark: str, *content_cols: str
) -> DataFrame:
    """Streaming exact dedup: first row per distinct content within the
    watermark horizon (``dropDuplicatesWithinWatermark`` keyed on the
    content hash, so the keyed state store holds one small hash row per
    distinct content and the watermark evicts it — bounded RocksDB
    state at any ingest scale, unlike an ever-growing global
    dropDuplicates). ``ts_col`` must be event-time (TimestampType)."""
    with_hash = stream.withColumn("content_hash", content_hash(*content_cols))
    return with_hash.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


# ---------------------------------------------------------------- tokens / shingles


def tokens_col(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def shingles_col(text: str | Column, k: int = 3) -> Column:
    """Word k-gram shingles (array<string>, may repeat)."""
    toks = tokens_col(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


# ---------------------------------------------------------------- MinHash + LSH


def minhash_signature(text: str | Column, n_hashes: int = 16, k: int = 3) -> Column:
    """Array of n md5-min hex strings over the shingle set.

    minhash_i = min over shingles of md5(i || ':' || shingle); min is
    lexicographic on the hex string, which any SQL engine reproduces.

    SCALE WARNING: use this Column form only in plain projections
    (e.g. the minhash_signatures driver query, where codegen CSE keeps
    it cheap). Anything that feeds banding + posexplode must use
    :func:`minhash_signature_udf` (identical values): a Generate stage
    drops the inlined chain out of codegen and re-evaluates it per
    band slot, ~100x slower.
    """
    sh = shingles_col(text, k)

    # NB: the transform lambda must be single-arg — a two-arg lambda is
    # interpreted by Spark as (element, index).
    def min_hash(i: int) -> Column:
        prefix = str(i)
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat_ws(":", F.lit(prefix), s)))
        )

    return F.array(*[min_hash(i) for i in range(n_hashes)])


def lsh_bands(sig: Column, n_bands: int = 4, rows_per_band: int = 4) -> Column:
    """Band keys: md5 of the concatenated signature slice per band,
    as one transform over a band-index sequence (references ``sig``
    exactly once). Feed it a MATERIALIZED signature column — ideally
    :func:`minhash_signature_udf`'s output, whose Python eval node is
    a plan barrier — never the raw minhash expression (see the warning
    on :func:`minhash_signature`)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.concat_ws("|", F.slice(sig, b * rows_per_band + 1, rows_per_band))
        ),
    )


def minhash_signature_udf(text: str | Column, n_hashes: int = 16, k: int = 3) -> Column:
    """Arrow-batched MinHash: bit-for-bit the same values as
    :func:`minhash_signature` (md5 hex of ``"i:shingle"``,
    lexicographic min), computed with hashlib per Arrow batch.

    Two scale reasons to prefer this over the Column expression when
    the signature feeds banding/explode:
    - **plan shape**: a Generate (posexplode) stage whose input
      projection inlines the n_hashes-way minhash chain falls out of
      whole-stage codegen (interpreted eval, no common-subexpression
      elimination) and re-evaluates the chain per band slot — measured
      52 s -> 6 s for near_dup_keep at sf0.1 and 22 s -> 1.6 s for the
      jaccard candidate join at sf0.01. The Python eval node is a plan
      barrier Catalyst cannot inline through, so everything above it
      stays codegen'd.
    - **shingle dedup**: repeated shingles (template-heavy corpora)
      hash once per TASK through :func:`minhash_signer`'s cache.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    c = F.col(text) if isinstance(text, str) else text

    # Java \s is ASCII-only ([ \t\n\x0B\f\r]); Python \s is Unicode (it
    # also eats NBSP etc). Spark trim() strips ' ' only; Python strip()
    # strips all whitespace. Both must be replicated exactly or the UDF
    # diverges from the Column form on tab/newline-edged or NBSP text
    # (verified divergence before this pin — see the property test).
    _java_ws = re.compile("[ \t\n\x0b\f\r]+")

    @pandas_udf("array<string>")
    def sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        sign = minhash_signer(n_hashes)
        for texts in batches:
            out = []
            for t in texts:
                # replicate F.split(F.trim(x), r"\s+") exactly:
                # NULL -> same as '' (trim/split/slice null-chain
                # collapses to the single empty shingle), trim strips
                # spaces only, split keeps leading/trailing empty
                # tokens (limit -1)
                toks = _java_ws.split(("" if t is None else t).strip(" "))
                n = len(toks)
                out.append(
                    sign({" ".join(toks[i : i + k]) for i in range(max(n - k + 1, 1))})
                )
            yield pd.Series(out)

    return sig(c)


def minhash_signer(n_hashes: int):
    """The one MinHash kernel (text and audio signatures): returns
    ``sign(values) -> list[str]``, minhash_i = md5 hex of
    ``"{i}:{value}"``, lexicographic min over a non-empty set of
    strings — the contract :func:`minhash_signature` states in SQL.

    Raw 16-byte digests compare lexicographically identically to their
    lowercase-hex form (hex encoding is order-preserving), so the min
    runs on digests and only the n_hashes winners pay for hex
    conversion. Each value's digests are cached for the life of the
    signer: make one per task (the iterator-UDF form keeps it alive
    across Arrow batches), so repeated values hash once per TASK — a
    per-batch cache collapses under small Arrow batches (measured
    34.2 s -> 5.7 s single-threaded at sf1.0 for per-batch vs per-task
    caching at 256-row batches).
    """
    import hashlib

    # md5(f"{i}:{s}".encode()) byte-for-byte: ASCII prefix + utf-8 body
    prefixes = [f"{i}:".encode() for i in range(n_hashes)]
    # ~1 KB per cached value: at most ~66 MiB per task (tracemalloc,
    # 2^16 values); at sf0.1 the whole text vocabulary (27,213
    # distinct 3-shingles) fits in one task's cache
    cache_cap = 1 << 16
    cache: dict[str, list[bytes]] = {}

    def sign(values) -> list[str]:
        mins = None
        for s in values:
            hs = cache.get(s)
            if hs is None:
                if len(cache) >= cache_cap:
                    cache.clear()
                sb = s.encode()
                hs = [hashlib.md5(p + sb).digest() for p in prefixes]
                cache[s] = hs
            mins = hs if mins is None else list(map(min, mins, hs))
        return [m.hex() for m in mins]

    return sign


def explode_bands(
    sig_df: DataFrame, keep_cols: list, n_hashes: int, n_bands: int
) -> DataFrame:
    """The one MinHash band explode (text docs, LSH candidates, audio
    clips): ``(keep_cols..., band_idx, band)`` rows from a frame whose
    signature is ALREADY materialized as the ``_sig`` column.

    The signature must come from its own projection: composing
    ``lsh_bands(minhash_signature(...))`` as one Column expression
    inlines the full n_hashes-way md5 minhash into every band slot and
    recomputes it per slot (measured 30x slowdown) — Catalyst does not
    deduplicate interpreted higher-order-function subtrees inside a
    single projection. Callers fan out batch inputs themselves."""
    return sig_df.select(
        *keep_cols,
        F.posexplode(lsh_bands(F.col("_sig"), n_bands, n_hashes // n_bands)).alias(
            "band_idx", "band"
        ),
    )


def bucket_pairs(rows: DataFrame) -> DataFrame:
    """The one LSH bucket self-join: ``(id, payload..., key1, key2)``
    rows -> distinct ``(id_a, id_b, <payload>_a, <payload>_b, ...)``
    with id_a < id_b, for every two rows sharing a bucket key.

    The join is a hash EQUI-join on (key1, key2) — never an
    OR-of-equalities condition, which Spark can only plan as a nested
    loop — so cost is the sum over buckets of |bucket|^2, not N^2. A
    pair sharing several buckets comes out once.

    Requires unique ids: callers that re-attach rows to the pairs by an
    id join re-expand a duplicated id into one row per row under it,
    including rows that never shared a bucket."""
    id_col, *payload, k1, k2 = rows.columns
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{k1}") == F.col(f"b.{k1}"))
            & (F.col(f"a.{k2}") == F.col(f"b.{k2}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{s}.{p}").alias(f"{p}_{s}") for p in payload for s in "ab"],
        )
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band:
    :func:`explode_bands` then :func:`bucket_pairs` on (band_idx, band)
    (unique ids required, see there)."""
    from .session import fan_out

    # unsplittable single-file inputs otherwise run the whole signature
    # UDF in one task (guide §2.5); no-op when the scan is already
    # parallel
    sig_df = fan_out(df, key=id_col).select(
        F.col(id_col), minhash_signature_udf(text_col, n_hashes, k).alias("_sig")
    )
    return bucket_pairs(explode_bands(sig_df, [id_col], n_hashes, n_bands))


# ------------------------------------------------- streaming near-dup


def banded_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
) -> DataFrame:
    """(id, ts, band_idx, band) rows of text documents — the banded
    input of the batch and streaming near-dup suppressors: 16 MinHashes
    over word 3-shingles in 4 bands of 4. Batch inputs fan out to
    session parallelism first (no-op for streams and for
    already-parallel scans)."""
    from .session import fan_out

    sig_df = fan_out(df, key=id_col).select(
        F.col(id_col),
        F.col(ts_col),
        minhash_signature_udf(text_col, 16, 3).alias("_sig"),
    )
    return explode_bands(sig_df, [id_col, ts_col], 16, 4)


def near_dup_suppress_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
) -> DataFrame:
    """Greedy online near-dup filter, batch form: a doc survives iff it
    is the FIRST doc (by event time, id tiebreak) on EVERY one of its
    LSH bands — i.e. nothing before it, kept or suppressed, claimed any
    of its bands. Chain-consistent (a suppressed doc's bands still
    block later docs), which is what makes the streaming twin's
    band-keyed state sufficient: no cross-key negotiation is needed.
    One shuffle on (band_idx, band) + one on id."""
    banded = banded_docs(df, id_col, text_col, ts_col)
    return suppress_from_banded(df, banded, id_col, ts_col)


def survivors_from_banded(
    banded: DataFrame, id_col: str, ts_col: str
) -> DataFrame:
    """Surviving ids (one row per id) from (id, ts, band_idx, band)
    rows: an id survives iff it is first, in (ts, id) order, on EVERY
    one of its bands. Callers that only need the id set (e.g. the
    near_dup_keep driver query) use this directly and skip the
    re-scan + semi-join that :func:`suppress_from_banded` pays to
    return full rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "band").orderBy(ts_col, id_col)
    return (
        banded.withColumn("_first", F.row_number().over(w) == 1)
        .groupBy(id_col)
        .agg(F.min(F.col("_first").cast("int")).alias("_all_first"))
        .filter(F.col("_all_first") == 1)
        .select(id_col)
    )


def suppress_from_banded(
    df: DataFrame, banded: DataFrame, id_col: str, ts_col: str
) -> DataFrame:
    """Generic half of the batch suppressor: given (id, ts, band_idx,
    band) rows of ANY banding (text shingles, audio landmark minhash),
    keep rows that are first on every one of their bands."""
    return df.join(
        survivors_from_banded(banded, id_col, ts_col), id_col, "left_semi"
    )


def near_dup_band_verdicts_stream(
    banded: DataFrame,
    id_col: str,
    ts_col: str,
    watermark: str = "10 seconds",
    claims: DataFrame | None = None,
) -> DataFrame:
    """Streaming half of the near-dup suppressor over banded rows
    ``(id, ts, band_idx, band)`` — :func:`banded_docs` for text,
    ``matching.banded_clips`` for audio: per-(band_idx, band) keyed
    state buffers (ts, id) rows until the watermark passes them, then
    releases them in event-time order, marking ``is_first`` on the
    band's first-ever released row. ``ts_col`` is epoch millis.

    Release is ``stateful._release_ripe``'s (strict ts < watermark plus
    an EventTimeTimeout at the earliest held row), identical for every
    band key, so all bands of a doc release at the SAME trigger and
    collapsing verdicts to per-doc survival is a plain per-micro-batch
    groupBy — see collapse_band_verdicts, applied inside foreachBatch.

    State per band key = the sub-watermark (ts, id) buffer — bounded by
    the watermark like exact_dedup_stream's horizon — PLUS one
    ``has_first`` bool for bands claimed DURING this run: first-ever
    semantics inherently require remembering which bands have been
    claimed. The ``claims`` side table is the compaction policy that
    keeps that bool set bounded: snapshot the claimed bands of each
    epoch (claims_from_verdicts over the epoch's verdict sink), feed
    the union of prior snapshots into the next epoch's run, and the
    stateful op (a) treats side-table bands as pre-claimed without any
    state row and (b) EVICTS a band's state entirely once its buffer
    drains if the claim is already external — so state row count is
    bounded by the bands *active in the current epoch*, not the
    corpus's lifetime band cardinality. The side table is static per
    run (epoch-grain), sidestepping stream-static file-index staleness.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .stateful import _release_ripe

    banded = banded.withColumn("event_time", F.timestamp_millis(F.col(ts_col)))
    if claims is not None:
        # prior-epoch claimed bands, broadcast: every row of a claimed
        # band arrives pre-marked, so the stateful op needs no state
        # row to know the band is taken
        claimed = claims.select(
            F.col("band_idx").cast("int").alias("band_idx"),
            F.col("band").cast("string").alias("band"),
            F.lit(True).alias("_claimed"),
        ).dropDuplicates(["band_idx", "band"])
        banded = banded.join(
            F.broadcast(claimed), ["band_idx", "band"], "left"
        ).withColumn("_claimed", F.coalesce("_claimed", F.lit(False)))
    else:
        banded = banded.withColumn("_claimed", F.lit(False))

    out_schema = (
        f"{id_col} string, ts_ms long, band_idx int, band string, "
        "is_first boolean"
    )
    state_schema = (
        "has_first boolean, claimed boolean, "
        "buf_ts array<long>, buf_id array<string>"
    )

    def fn(key, pdfs, state: GroupState):
        band_idx, band = int(key[0]), str(key[1])
        if state.exists:
            has_first, claimed, buf_ts, buf_id = state.get
            buf = list(zip(buf_ts or [], buf_id or []))
        else:
            has_first, claimed, buf = False, False, []
        for pdf in pdfs:
            if len(pdf) and bool(pdf["_claimed"].iloc[0]):
                # constant per band key; persisted in state because a
                # later TIMEOUT invocation has no input rows to re-read
                # the side-table flag from
                claimed = True
            buf.extend((int(t), str(d)) for t, d in zip(pdf[ts_col], pdf[id_col]))
        has_first = has_first or claimed
        ready, buf = _release_ripe(state, buf, ts_of=lambda r: r[0])
        out = []
        for t, d in ready:
            out.append((d, t, band_idx, band, not has_first))
            has_first = True
        if not buf and (claimed or not has_first):
            # compaction: nothing buffered and the claim (if any) is
            # already externalized in the side table — drop the state
            # row entirely instead of retaining a has_first bool per
            # band forever. Bands newly claimed THIS epoch keep their
            # bool until the epoch's claims are snapshotted.
            if state.exists:
                state.remove()
        else:
            state.update(
                (has_first, claimed, [t for t, _ in buf], [d for _, d in buf])
            )
        yield pd.DataFrame(
            out, columns=[id_col, "ts_ms", "band_idx", "band", "is_first"]
        )

    return (
        banded.withWatermark("event_time", watermark)
        .groupBy("band_idx", "band")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def collapse_band_verdicts(verdicts: DataFrame, id_col: str) -> DataFrame:
    """Per-doc survival from one micro-batch of band verdicts (use in
    foreachBatch): a doc survives iff every one of its 4 bands (the
    banding of :func:`banded_docs` and ``matching.banded_clips``)
    marked it first."""
    return (
        verdicts.groupBy(id_col)
        .agg(
            F.count("*").alias("_n"),
            F.min(F.col("is_first").cast("int")).alias("_all_first"),
            F.min("ts_ms").alias("ts_ms"),
        )
        .filter((F.col("_n") == 4) & (F.col("_all_first") == 1))
        .select(id_col, "ts_ms")
    )


def claims_from_verdicts(verdicts: DataFrame) -> DataFrame:
    """Epoch-end compaction snapshot: the distinct (band_idx, band)
    pairs claimed by this epoch's verdict stream. Union with prior
    snapshots and pass as ``claims`` to the next epoch's
    near_dup_band_verdicts_stream run — the claimed-band state the
    stream would otherwise retain forever lives here instead, and the
    next run's state stays bounded by its own epoch's active bands."""
    return (
        verdicts.filter(F.col("is_first"))
        .select("band_idx", "band")
        .dropDuplicates(["band_idx", "band"])
    )


class NearDupEpochs:
    """Epoch lifecycle for the streaming near-dup suppressor: the one
    public entry point that assembles what the pieces above otherwise
    leave to the caller — run an epoch's stream, snapshot its claimed
    bands, and feed the union of all prior snapshots into the next
    epoch, so keyed-state row count stays bounded by each epoch's OWN
    active bands while suppression still sees every band ever claimed.

    Filesystem layout under ``root_dir`` (any Hadoop-compatible path —
    object storage at scale): ``claims/`` (append-only parquet of
    (band_idx, band, epoch) snapshots), ``verdicts/<epoch>/`` (each
    epoch's exactly-once verdict sink, ``batch_id=N/`` directories plus
    its ledger), ``ckpt/<epoch>/`` (each epoch's streaming
    checkpoint — fresh per epoch BY DESIGN: cross-epoch memory travels
    through the claims table, not the state store, which is exactly the
    compaction). Restart-safe the same way the exactly-once sink is:
    re-running a finished epoch replays from its own checkpoint into
    its own sink.

    Usage::

        ep = NearDupEpochs(spark, root, "doc_id", "ts_ms")
        ep.run_epoch(banded_docs(stream1, "doc_id", "text", "ts_ms"), "e1")
        ep.run_epoch(banded_docs(stream2, "doc_id", "text", "ts_ms"), "e2")
        ep.survivors("e2")               # per-doc survival for epoch 2

    Survivors need the verdicts of all 4 bands of a doc (see
    :func:`collapse_band_verdicts`). Reference anchor: the reference
    persists cross-run dedup state as a side file (alerts_state.json
    pattern, helpers.py:23-33); this is that idea at corpus scale, with
    the side table doubling as the state-compaction ledger."""

    def __init__(
        self,
        spark,
        root_dir: str,
        id_col: str,
        ts_col: str,
        watermark: str = "10 seconds",
    ):
        self.spark = spark
        self.root = root_dir.rstrip("/")
        self.id_col, self.ts_col = id_col, ts_col
        self.watermark = watermark
        self.claims_dir = f"{self.root}/claims"
        self.last_state_rows: list[int] | None = None

    def _verdicts_sink(self, name: str):
        from .sink import ExactlyOnceParquetSink

        return ExactlyOnceParquetSink(f"{self.root}/verdicts/{name}")

    def claims(self) -> DataFrame | None:
        """Union of every prior epoch's claimed-band snapshot (None
        before the first epoch, when the claims directory does not
        exist yet). Any other read error raises: an unreadable ledger
        must not turn into "no prior claims"."""
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(self.claims_dir)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise
        return df.select("band_idx", "band").dropDuplicates(
            ["band_idx", "band"]
        )

    def run_epoch(self, banded: DataFrame, name: str) -> DataFrame:
        """Run one epoch: banded stream (id, ts, band_idx, band) ->
        band verdicts (with all prior claims pre-marked) -> exactly-once
        sink; then snapshot this epoch's newly claimed bands into the
        claims ledger. Returns the epoch's verdict DataFrame.
        ``last_state_rows`` records the state-store row counts per
        micro-batch (observability: the bound that compaction
        promises). An epoch still running after 300 s is stopped and
        raises TimeoutError."""
        import json

        from .streaming import start_exactly_once

        verdicts = near_dup_band_verdicts_stream(
            banded, self.id_col, self.ts_col, self.watermark, self.claims()
        )
        sink = self._verdicts_sink(name)
        q = start_exactly_once(verdicts, sink, f"{self.root}/ckpt/{name}")
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"near-dup epoch {name!r} did not finish")
        self.last_state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in (json.loads(pp.json) for pp in q.recentProgress)
            if p.get("stateOperators")
        ]
        out = sink.read(self.spark)
        (
            claims_from_verdicts(out)
            .withColumn("epoch", F.lit(name))
            .write.mode("append")
            .parquet(self.claims_dir)
        )
        return out

    def survivors(self, name: str) -> DataFrame:
        """Per-doc survival for one finished epoch."""
        verdicts = self._verdicts_sink(name).read(self.spark)
        return collapse_band_verdicts(verdicts, self.id_col)


# ---------------------------------------------------------------- n-gram Jaccard


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 1,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Pairs with token/shingle-set Jaccard >= threshold.

    With ``candidates`` (id_a, id_b — e.g. from
    :func:`minhash_lsh_candidates`) this is the SCALE PATH: each
    candidate pair is verified by joining the two shingle arrays back
    on their ids and intersecting them per pair (``array_intersect``,
    JVM-side) — cost is |candidates| * O(doc length), with no token
    join anywhere.

    Without candidates it falls back to the token-overlap self-join:
    correct, but the join key is the raw shingle, whose document
    frequency is Zipf-skewed (stopwords are planet-hot keys) and the
    pair blow-up is quadratic in DF — the small-scale oracle twin only.
    """
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(text_col, k)).alias("toks"),
    )
    if candidates is not None:
        a = sets.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
        b = sets.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
        return (
            candidates.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "shared",
                F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
            )
            .withColumn(
                "jaccard",
                F.col("shared")
                / (F.size("toks_a") + F.size("toks_b") - F.col("shared")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "shared", "jaccard")
        )
    items = sets.select("id", F.explode("toks").alias("item"))
    return set_jaccard_pairs(items, threshold)


def set_jaccard_pairs(items: DataFrame, threshold: float) -> DataFrame:
    """The one set-Jaccard self-join (text shingles and audio landmark
    hashes): distinct ``(id, item)`` rows -> ``(id_a, id_b, shared,
    jaccard)`` for id_a < id_b sharing at least one item and jaccard
    >= threshold. Joins on the item, counts shared items per pair, then
    joins both set sizes. The join key's document frequency makes the
    pair count quadratic in it: cap hub items before calling."""
    sizes = items.groupBy("id").agg(F.count("*").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    shared = (
        a.join(b, (F.col("a.item") == F.col("b.item")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "jaccard")
    )


# ---------------------------------------------------------------- SimHash


def _hex_to_long(hexcol: Column) -> Column:
    return F.conv(hexcol, 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc SimHash: each distinct token votes its md5-derived bits.

    token value = first 8 hex chars of md5 (32 bits); bit b adds +1 or
    -1; the fingerprint sets bit b where the vote is positive. Fully
    reproducible in ANSI SQL (md5 + hex->int + bit arithmetic).

    The explode + md5 + 32-way partial bit-vote aggregation all run
    scan-side (below the one exchange); fan_out keeps that map work off
    a single task when the input is an unsplittable file (guide §2.5).
    """
    from .session import fan_out

    df = fan_out(df, key=id_col)
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"),
    ).withColumn("h", _hex_to_long(F.substring(F.md5("tok"), 1, 8)))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    fp = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance, chunk-join pruned
    (hamming <= 3 over 4 chunks -> some chunk equal, pigeonhole):
    :func:`bucket_pairs` on (chunk, value) carries ``simhash`` as its
    payload (unique ids required, see there)."""
    chunk_vals = [
        F.shiftright(F.col("simhash"), c * 8).bitwiseAND(0xFF) for c in range(4)
    ]
    chunks = sims.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.posexplode(F.array(*chunk_vals)).alias("c", "v"),
    )
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        bucket_pairs(chunks)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- components


def near_dup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) labels over the near-dup pair graph (``nodes``
    has an ``id`` column, ``pairs`` ``id_a`` and ``id_b``): component =
    the minimum id transitively reachable. The dedup-pipeline step after
    pair generation — a keeper per CLUSTER (pairs alone under-delete:
    A~B, B~C must collapse A,B,C together even when A~C wasn't found).

    Alternating large-star/small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): each round every
    node hangs its larger neighbors (large-star) then its smaller
    neighbors (small-star) off the minimum of its closed neighborhood,
    so component trees halve in height every round — O(log n) rounds
    even on adversarial long chains, where plain min-label propagation
    needs O(diameter) rounds (the r2 implementation this replaces).
    Each star op is one shuffle (groupBy u + re-join on u); lineage is
    cut with localCheckpoint so plans don't grow with iterations, and
    the convergence probe is a single count+checksum action per round.
    Raises if max_iter rounds don't converge — a silently partial
    clustering would corrupt downstream keeper selection.
    tests/test_dataops.py proves equality with a union-find oracle and
    bounds the round count on a 10^4-node path graph.
    """
    half = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = nodes.select("id").distinct()
    edges = half.localCheckpoint()
    prev_sig: tuple | None = None
    for rounds in range(max_iter):
        # large-star: for every u, attach each neighbor v > u to
        # m(u) = min(neighborhood(u) + {u})
        both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        edges = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges child(larger) -> parent(smaller);
        # rewire every parent and the node itself onto the minimum parent
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        edges = (
            oriented.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(smins.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # decimal sum: ANSI long addition overflows on summed xxhash64
        sig_row = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            parents = edges.groupBy(F.col("u").alias("id")).agg(
                F.min("v").alias("parent")
            )
            return (
                all_nodes.join(parents, "id", "left")
                .select(
                    "id",
                    F.coalesce("parent", F.col("id")).alias("component"),
                )
            )
        prev_sig = sig
    raise RuntimeError(
        f"near_dup_components did not converge in {max_iter} rounds"
    )


# ---------------------------------------------------------------- embeddings


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine over two array<float/double> columns, JVM-side
    (zip_with + aggregate higher-order functions — no UDF)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


def cosine_arrow(a: Column, b: Column) -> Column:
    """Bit-identical twin of :func:`cosine`, Arrow-batched.

    The higher-order-function form is interpreted per element (HOF
    lambdas defeat whole-stage codegen): ~3 aggregate folds x dim
    interpreted evals per pair — measured 3.7 s for 200k pairs x 64
    dims (ann_topk, sf1.0). This UDF computes the same left-fold sums
    with ``cumsum`` (numpy's cumulative sum is a sequential
    accumulation, so ``cumsum(p)[-1]`` reproduces the fold
    ``((0.0 + p_0) + p_1) + ...`` bit-for-bit; elementwise float32 ->
    float64 casts and products are IEEE-identical to the JVM's), so
    swapping it into a query cannot change any rounded result. Pinned
    by tests/test_dataops.py::test_cosine_arrow_bit_identical.

    A null, empty or unequal-length vector pair yields null for that
    row (as the HOF form does for null input), never a task failure.
    """
    return _cosine_udf()(a, b)


def _cosine_udf():
    """The pandas UDF behind :func:`cosine_arrow`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        va_l = va.tolist()
        vb_l = vb.tolist()
        # 0 marks a bad row: null side, empty, or unequal lengths
        lens = np.fromiter(
            (
                len(x) if x is not None and y is not None and len(x) == len(y) else 0
                for x, y in zip(va_l, vb_l)
            ),
            dtype=np.int64,
            count=len(va_l),
        )
        # NaN crosses the Arrow boundary as null
        out = np.full(len(va_l), np.nan)
        # batches may mix dims: vectorize per distinct dim
        for length in np.unique(lens[lens > 0]):
            idx = np.nonzero(lens == length)[0]
            A = np.array([va_l[i] for i in idx], dtype=np.float64)
            B = np.array([vb_l[i] for i in idx], dtype=np.float64)
            P = A * B
            out[idx] = P.cumsum(axis=1)[:, -1]
            na = np.sqrt((A * A).cumsum(axis=1)[:, -1])
            nb = np.sqrt((B * B).cumsum(axis=1)[:, -1])
            out[idx] /= na * nb
        return pd.Series(out)

    return cos


def _verified_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, va, vb) candidate pairs -> (id_a, id_b, cos) where
    the exact cosine is >= ``threshold``, rounded to 6 places.

    The cosine UDF is marked nondeterministic so that the optimizer
    keeps the threshold filter above the one projection that evaluates
    it: a deterministic UDF is inlined into the pushed-down filter too,
    and the plan evaluates it twice per pair (two ArrowEvalPython
    nodes, one below and one above the Filter). Its values are the
    same, but the flag has a wider effect: no filter placed on this
    function's output, on any column (``id_a`` too), is pushed below
    the cosine projection, so a caller that narrows the pairs should
    filter ``pairs`` before calling this."""
    cos = _cosine_udf().asNondeterministic()(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def embedding_near_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute force (all-pairs cross
    join, O(N^2)): the small-scale ORACLE TWIN only. Production path is
    :func:`embedding_near_pairs_lsh` — same output where LSH recall
    holds, but candidates come from signature buckets instead of the
    full pair space."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return _verified_pairs(a.join(b, F.col("id_a") < F.col("id_b")), threshold)


def embedding_near_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: random-hyperplane LSH
    buckets generate candidates, exact cosine verifies candidates only.

    Plan shape: :func:`similarity.hyperplane_bands` then
    :func:`bucket_pairs` on (t, sig) (unique ids required, see there),
    then exact-cosine filter — no cross join anywhere. Recall per true
    pair at cosine c is 1 - (1 - agree(c)^n_planes)^n_tables with
    agree(c) = 1 - acos(c)/pi; the defaults give > 0.98 recall at
    c = 0.8 and ~1 - 6e-7 at c = 0.99 (raise n_planes for bucket
    selectivity at corpus scale, n_tables for recall). Verification is
    exact, so precision is always 1.
    """
    from .session import fan_out
    from .similarity import hyperplane_bands

    # the bucket self-join and pair dedup carry ONLY ids (guide §2.3 —
    # the old groupBy(first(va), first(vb)) shuffled two dim-length
    # vectors per candidate row); vectors re-attach by id afterwards.
    # fan_out on the signature branch only (re-attach is a join input)
    cand = bucket_pairs(
        hyperplane_bands(
            fan_out(df, key=id_col), id_col, vec_col, dim, n_planes, n_tables, seed
        )
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return _verified_pairs(cand.join(va, "id_a").join(vb, "id_b"), threshold)
