"""Tests for training-data pipeline operators: dedup, similarity,
text analysis, multimodal plumbing, analytics (hampel/pivot/resample),
joins — each vs a small pandas/numpy oracle.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkfp import analytics, dedup, joins, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "completely different text about spark engines",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "der hund und die katze sind mit dem ball",      # German-ish
        "le chat et le chien sont dans la maison pour un jour",  # French-ish
        "one two three four five six seven eight nine ten",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(base)), "text": base})
    return spark.createDataFrame(pdf), pdf


# ------------------------------------------------------------------ dedup


def test_exact_dedup(spark, docs):
    df, pdf = docs
    groups = dedup.exact_duplicate_groups(df, "doc_id", "text").toPandas()
    assert groups.n_dups.sum() == len(pdf)
    dup_group = groups[groups.n_dups == 2]
    assert len(dup_group) == 1 and dup_group.keeper_id.iloc[0] == 0
    kept = dedup.exact_dedup(df, "doc_id", "text").toPandas()
    assert set(kept.doc_id) == {0, 1, 2, 4, 5, 6}


def test_minhash_matches_python_md5(spark, docs):
    df, pdf = docs
    sig = df.select(
        "doc_id", dedup.minhash_signature("text", n_hashes=4, k=2).alias("sig")
    ).toPandas()
    # python oracle for doc 0
    toks = pdf.text[0].split()
    sh = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
    for i in range(4):
        exp = min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
        got = sig[sig.doc_id == 0].sig.iloc[0][i]
        assert got == exp


def test_minhash_udf_equals_column_on_whitespace_edges(spark):
    """minhash_signature_udf claims bit-for-bit parity with the Column
    form. The hard cases are exactly where Python and Java string
    semantics split: Spark trim strips ' ' only (Python strip() eats
    tabs/newlines), Java \\s is ASCII (Python \\s matches NBSP and other
    Unicode spaces), and split(limit=-1) keeps edge empty tokens. NULL
    text must collapse to the empty-shingle signature like the Column
    null-chain does. Each case here diverged (or guards a case that
    did) before the UDF was pinned to Java semantics."""
    edge = [
        None,
        "",
        " ",
        "\t",
        "\ta b\t",          # tab-edged: trim must keep the tabs
        " a\tb ",           # space-edged: trim strips, interior tab splits
        "a b",          # NBSP: Java \s does NOT split, Python \s does
        "a b",          # em-space: same class of divergence
        "x\r\ny",           # CRLF run collapses to one separator
        "a\x0bb\x0cc",      # vertical tab / form feed are Java \s
        "\n\nleading",      # newline-edged
        "trailing\f\f",
        "  double  spaced  ",
        "solo",
        "a b c d e f",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(edge)], "doc_id int, text string"
    )
    col = df.select(
        "doc_id", dedup.minhash_signature("text", n_hashes=8, k=3).alias("sig")
    ).toPandas()
    udf = df.select(
        "doc_id", dedup.minhash_signature_udf("text", n_hashes=8, k=3).alias("sig")
    ).toPandas()
    for i in range(len(edge)):
        c = list(col[col.doc_id == i].sig.iloc[0])
        u = list(udf[udf.doc_id == i].sig.iloc[0])
        assert c == u, f"doc {i} ({edge[i]!r}): Column vs UDF signature diverged"


def test_minhash_lsh_finds_near_dups(spark, docs):
    df, pdf = docs
    cand = dedup.minhash_lsh_candidates(df, "doc_id", "text", n_hashes=16, n_bands=8)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (0, 3) in pairs  # exact dups always collide
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup collides in >=1 band
    verified = dedup.jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, k=1, candidates=cand
    ).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for _, r in verified.iterrows()}
    assert got[(0, 3)] == 1.0
    assert 0.5 <= got[(0, 1)] < 1.0


def test_jaccard_matches_python(spark, docs):
    df, pdf = docs
    out = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.0, k=1).toPandas()
    for _, r in out.iterrows():
        sa = set(pdf.text[r.id_a].split())
        sb = set(pdf.text[r.id_b].split())
        exp = len(sa & sb) / len(sa | sb)
        assert np.isclose(r.jaccard, exp), (r.id_a, r.id_b)


def test_simhash_matches_python(spark, docs):
    df, pdf = docs
    got = dedup.simhash(df, "doc_id", "text").toPandas().set_index("doc_id")
    for did, txt in zip(pdf.doc_id, pdf.text):
        votes = np.zeros(32)
        for tok in set(txt.split()):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        exp = sum(2**b for b in range(32) if votes[b] > 0)
        assert got.loc[did, "simhash"] == exp
    # exact dups share simhash; near-dups are closer than unrelated docs
    sh = got.simhash
    assert sh[0] == sh[3]
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[2])
    # chunk-pruned candidate join is complete within its contract
    # (hamming <= n_chunks - 1 = 3 guarantees a shared chunk)
    pairs = dedup.simhash_near_pairs(
        dedup.simhash(df, "doc_id", "text"), "doc_id", max_hamming=3
    ).toPandas()
    got_pairs = {(r.id_a, r.id_b): r.hamming for _, r in pairs.iterrows()}
    assert got_pairs[(0, 3)] == 0
    exp_close = {
        (a, b)
        for a in range(7)
        for b in range(a + 1, 7)
        if ham(sh[a], sh[b]) <= 3
    }
    assert set(got_pairs) == exp_close


def test_embedding_near_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    out = dedup.embedding_near_pairs(df, "id", "v", threshold=0.95).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(0, 1)}


# ------------------------------------------------------------------ similarity


def test_cosine_arrow_bit_identical(spark):
    """cosine_arrow must equal the HOF cosine BIT-FOR-BIT (not approx):
    the similarity/embedding hot paths swapped it in for speed and the
    driver oracle compares rounded values, so any ulp drift at a
    rounding boundary would flip a result. Covers float32 and float64
    vectors, negatives, tiny/huge magnitudes and mixed dims."""
    rng = np.random.Generator(np.random.Philox(key=[9, 0]))
    rows = []
    for i in range(300):
        dim = [3, 8, 64][i % 3]
        scale = [1.0, 1e-12, 1e12][i % 3]
        a = (rng.standard_normal(dim) * scale).tolist()
        b = (rng.standard_normal(dim) * scale).tolist()
        rows.append((i, a, b))
    for typ in ("float", "double"):
        df = spark.createDataFrame(
            rows, f"id long, a array<{typ}>, b array<{typ}>"
        )
        got = (
            df.select(
                "id",
                dedup.cosine(F.col("a"), F.col("b")).alias("hof"),
                dedup.cosine_arrow(F.col("a"), F.col("b")).alias("arrow"),
            )
            .toPandas()
            .sort_values("id")
        )
        assert list(got.hof) == list(got.arrow), typ  # exact, no approx


def test_cosine_arrow_bad_rows_null(spark):
    """A null, empty or unequal-length vector pair gives null for THAT
    row (as the HOF cosine does for null input) instead of failing the
    task; good rows in the same batch are unaffected."""
    rows = [
        (0, None, [1.0, 2.0]),
        (1, [1.0, 2.0], None),
        (2, [], []),
        (3, [1.0, 2.0, 3.0], [1.0, 2.0]),
        (4, [3.0, 4.0], [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {
        r.id: r.cos
        for r in df.select(
            "id", dedup.cosine_arrow(F.col("a"), F.col("b")).alias("cos")
        ).collect()
    }
    assert got == {0: None, 1: None, 2: None, 3: None, 4: 1.0}


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.Generator(np.random.Philox(key=[1, 0]))
    V = rng.standard_normal((30, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(30)], "id long, v array<double>"
    )
    queries = df.filter("id < 3")
    got = similarity.brute_force_topk(df, queries, "id", "v", k=4).toPandas()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        order = sorted(range(30), key=lambda j: (-round(s[j], 6), j))[:4]
        grp = got[got.query_id == qid].sort_values("rank")
        assert list(grp.neighbor_id) == order


def test_lsh_topk_high_recall(spark):
    rng = np.random.Generator(np.random.Philox(key=[2, 0]))
    V = rng.standard_normal((100, 8))
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(100)], "id long, v array<double>"
    )
    queries = df.filter("id < 5")
    exact = similarity.brute_force_topk(df, queries, "id", "v", k=3).toPandas()
    approx = similarity.lsh_topk(
        df, queries, "id", "v", dim=8, k=3, n_planes=6, n_tables=4
    ).toPandas()
    # recall@3 of the approximate search
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(e & a)
    assert hits / 15 >= 0.6


@pytest.mark.parametrize(
    "path",
    [
        "lsh_topk", "embedding_near_pairs_lsh", "minhash_lsh_candidates",
        "simhash_near_pairs",
    ],
)
def test_lsh_plans_have_no_nested_loop_join(spark, docs, path):
    """The LSH candidate join must be a hash/sort-merge EQUI-join on its
    bucket key — (table, signature), (band_idx, band) or (chunk,
    value); an OR-of-equalities condition degenerates to
    BroadcastNestedLoopJoin (per-pair predicate eval), defeating the
    bucketing entirely."""
    rng = np.random.Generator(np.random.Philox(key=[3, 0]))
    V = rng.standard_normal((50, 8))
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(50)], "id long, v array<double>"
    )
    text_df = docs[0]
    build = {
        "lsh_topk": lambda: similarity.lsh_topk(
            df, df.filter("id < 3"), "id", "v", dim=8, k=3
        ),
        "embedding_near_pairs_lsh": lambda: dedup.embedding_near_pairs_lsh(
            df, "id", "v", dim=8, threshold=0.9
        ),
        "minhash_lsh_candidates": lambda: dedup.minhash_lsh_candidates(
            text_df, "doc_id", "text"
        ),
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(
            dedup.simhash(text_df, "doc_id", "text"), "doc_id"
        ),
    }[path]
    plan = build()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan


@pytest.mark.parametrize("path", ["embedding_near_pairs", "embedding_near_pairs_lsh"])
def test_embedding_near_pairs_evaluate_cosine_once(spark, path):
    """The exact-cosine check is one ArrowEvalPython node per plan: the
    threshold filter stays above it, instead of a pushed-down copy of
    the UDF evaluating every candidate pair a second time."""
    rng = np.random.Generator(np.random.Philox(key=[3, 0]))
    V = rng.standard_normal((20, 8))
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(20)], "id long, v array<double>"
    )
    out = (dedup.embedding_near_pairs(df, "id", "v", threshold=0.9)
           if path == "embedding_near_pairs"
           else dedup.embedding_near_pairs_lsh(df, "id", "v", dim=8, threshold=0.9))
    plan = out._jdf.queryExecution().executedPlan().toString()
    evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and "cos(" in ln]
    assert len(evals) == 1, plan


def test_bucket_pairs_once_per_pair_with_payload(spark):
    """dedup.bucket_pairs on a hand-built table: a pair sharing two
    buckets comes out once, payload columns come back as <name>_a /
    <name>_b, and there are no self pairs and no reversed pairs."""
    rows = spark.createDataFrame(
        [
            ("x", 10, 0, "k1"),
            ("y", 20, 0, "k1"),  # x, y share bucket (0, k1) ...
            ("x", 10, 1, "k2"),
            ("y", 20, 1, "k2"),  # ... and (1, k2)
            ("z", 30, 1, "k2"),  # z shares (1, k2) with x and y
            ("z", 30, 0, "k2"),  # key2 seen under another key1: no pair
            ("w", 40, 1, "k9"),  # alone in its bucket
        ],
        "id string, payload long, t int, key string",
    )
    got = dedup.bucket_pairs(rows)
    assert got.columns == ["id_a", "id_b", "payload_a", "payload_b"]
    assert sorted(map(tuple, got.collect())) == [
        ("x", "y", 10, 20), ("x", "z", 10, 30), ("y", "z", 20, 30),
    ]


def test_embedding_near_pairs_lsh_equals_brute_on_planted_dups(spark):
    """Planted near-duplicates (cos ~0.99): the LSH-bucketed path finds
    exactly the brute-force pair set (verification is exact; recall at
    this cosine is ~1 - 6e-7 with default params)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 16))
    rows = [(i, base[i].tolist()) for i in range(200)]
    for i in range(5):
        w = base[i] + 0.02 * rng.standard_normal(16)
        rows.append((1000 + i, w.tolist()))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    lsh = dedup.embedding_near_pairs_lsh(
        df, "id", "v", dim=16, threshold=0.95
    ).toPandas()
    brute = dedup.embedding_near_pairs(df, "id", "v", threshold=0.95).toPandas()
    key = ["id_a", "id_b", "cos"]
    assert sorted(map(tuple, lsh[key].values.tolist())) == sorted(
        map(tuple, brute[key].values.tolist())
    )
    assert {(r.id_a, r.id_b) for _, r in lsh.iterrows()} == {
        (i, 1000 + i) for i in range(5)
    }


# ------------------------------------------------------------------ lowess


def _lowess_oracle(y, frac=0.3, it=0):
    """Slow per-point reference: tricube k-NN weighted linear fit over
    row positions (independent of the engine's vectorized formulation)."""
    import math

    n = len(y)
    if n < 3:
        return list(y)
    k = max(3, min(n, int(frac * n)))
    rw = [1.0] * n
    out = list(y)
    for _ in range(it + 1):
        for i in range(n):
            d = sorted((abs(j - i), j) for j in range(n))
            h = d[k - 1][0]
            if h <= 0:
                out[i] = y[i]
                continue
            w = [
                max(0.0, 1 - (abs(j - i) / h) ** 3) ** 3 * rw[j]
                for j in range(n)
            ]
            sw = sum(w)
            swx = sum(wj * j for j, wj in enumerate(w))
            swy = sum(wj * y[j] for j, wj in enumerate(w))
            swxx = sum(wj * j * j for j, wj in enumerate(w))
            swxy = sum(wj * j * y[j] for j, wj in enumerate(w))
            denom = swxx - swx * swx / sw
            if denom < 1e-9:
                out[i] = swy / sw
            else:
                out[i] = swy / sw + (swxy - swx * swy / sw) / denom * (i - swx / sw)
        if it:
            resid = sorted(abs(a - b) for a, b in zip(y, out))
            s = resid[len(resid) // 2] if len(resid) % 2 else (
                resid[len(resid) // 2 - 1] + resid[len(resid) // 2]
            ) / 2
            if s <= 0:
                break
            rw = [
                max(0.0, 1 - (abs(a - b) / (6 * s)) ** 2) ** 2
                for a, b in zip(y, out)
            ]
    return out


@pytest.mark.parametrize("it", [0, 3])
def test_lowess_matches_independent_oracle(spark, it):
    rng = np.random.Generator(np.random.Philox(key=[5, 0]))
    rows = []
    series = {}
    for key in ("A", "B"):
        y = (np.sin(np.linspace(0, 6, 40)) * 10 + rng.standard_normal(40)).tolist()
        if key == "B":
            y[7] = 90.0  # outlier: the robust pass should shrug it off
        series[key] = y
        rows += [(key, i, float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = (
        analytics.lowess(df, "value", ["k"], "ts", frac=0.3, it=it)
        .orderBy("k", "ts")
        .toPandas()
    )
    for key, y in series.items():
        exp = _lowess_oracle(y, frac=0.3, it=it)
        g = got[got.k == key].smooth.tolist()
        assert g == pytest.approx(exp, abs=1e-9), (key, it)


def test_lowess_batched_path_matches_per_group_reference(spark):
    """The multi-group mapInPandas path (repartition + sortWithin +
    carry-over across Arrow batches) must equal the per-group oracle
    for EVERY group — exercised with a tiny Arrow batch size so groups
    straddle batch boundaries (the carry-over path) and with group
    sizes from degenerate (1, 2) through > batch."""
    rng = np.random.Generator(np.random.Philox(key=[7, 0]))
    rows = []
    series = {}
    sizes = [1, 2, 3, 5, 40, 17, 8, 40, 4, 23]
    for gi, n in enumerate(sizes):
        key = f"g{gi:02d}"
        y = (np.sin(np.linspace(0, 6, n)) * 10 + rng.standard_normal(n)).tolist()
        series[key] = y
        rows += [(key, i, float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = (
            analytics.lowess(df, "value", ["k"], "ts", frac=0.3, it=0)
            .orderBy("k", "ts")
            .toPandas()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    assert len(got) == sum(sizes)
    for key, y in series.items():
        exp = _lowess_oracle(y, frac=0.3, it=0)
        g = got[got.k == key].smooth.tolist()
        assert g == pytest.approx(exp, abs=1e-9), key


def test_lowess_null_order_key_sorts_last(spark):
    """A null order key takes the LAST row position of its group (NaN
    last, as DuckDB and a pandas sort_values place it), not the first."""
    rng = np.random.Generator(np.random.Philox(key=[8, 0]))
    n = 16
    y = (np.sin(np.linspace(0, 6, n)) * 10 + rng.standard_normal(n)).tolist()
    ts = [float(i) for i in range(n)]
    ts[4] = None  # row 4 has no timestamp
    y[4] = 50.0
    rows = [("A", i, ts[i], float(y[i])) for i in range(n)]
    rows += [("B", 100 + i, float(i), float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "k string, id long, ts double, value double")
    got = analytics.lowess(df, "value", ["k"], "ts", frac=0.5, it=0).toPandas()
    order_a = sorted(range(n), key=lambda i: (ts[i] is None, ts[i] or 0.0))
    exp = dict(zip(order_a, _lowess_oracle([y[i] for i in order_a], frac=0.5)))
    exp.update({100 + i: v for i, v in enumerate(_lowess_oracle(y, frac=0.5))})
    assert len(got) == 2 * n
    for row_id, smooth in zip(got.id, got.smooth):
        assert smooth == pytest.approx(exp[int(row_id)], abs=1e-9), row_id


def test_lowess_smooths_outlier_with_robust_iterations(spark):
    # small noise keeps the median absolute residual > 0 so the robust
    # reweighting actually runs (on exactly-fit data s = 0 and the
    # robust loop stops, matching Cleveland's algorithm)
    rng = np.random.Generator(np.random.Philox(key=[6, 0]))
    y = (1.0 + 0.01 * rng.standard_normal(20)).tolist()
    y[10] = 100.0
    df = spark.createDataFrame(
        [("A", i, float(v)) for i, v in enumerate(y)],
        "k string, ts long, value double",
    )
    plain = analytics.lowess(df, "value", ["k"], "ts", it=0).toPandas()
    robust = analytics.lowess(df, "value", ["k"], "ts", it=3).toPandas()
    # the robust pass rescues the outlier's NEIGHBORS: without it the
    # point at ts=9 is dragged to ~26 by the spike at ts=10
    at9 = lambda pdf: float(pdf[pdf.ts == 9].smooth.iloc[0])  # noqa: E731
    assert abs(at9(plain) - 1.0) > 10
    assert abs(at9(robust) - 1.0) < 0.1


# ------------------------------------------------------------------ text


def test_quality_and_tokens(spark, docs):
    df, pdf = docs
    out = text.quality_score(df, "text").toPandas().set_index("doc_id")
    for did, txt in zip(pdf.doc_id, pdf.text):
        assert out.loc[did, "n_tokens"] == len(txt.split())
        assert 0 <= out.loc[did, "quality_score"] <= 1
    # a high-stopword English sentence scores above a stopword-free list
    assert out.loc[0, "quality_score"] > out.loc[6, "quality_score"]


def test_lang_id(spark, docs):
    df, _ = docs
    out = text.lang_id(df, "text").toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[4, "lang_pred"] == "de"
    assert out.loc[5, "lang_pred"] == "fr"


def test_winnow_fingerprints_match_python(spark, docs):
    df, pdf = docs
    k, w = 8, 4
    got = text.winnow_fingerprints(df, "doc_id", "text", k=k, w=w).toPandas()
    for did, txt in zip(pdf.doc_id, pdf.text):
        n = max(len(txt) - k + 1, 1)
        hashes = [
            int(hashlib.md5(txt[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(n)
        ]
        exp = {min(hashes[i : i + w]) for i in range(len(hashes))}
        assert set(got[got.doc_id == did].fingerprint) == exp
    # dup docs share fingerprints
    f0 = set(got[got.doc_id == 0].fingerprint)
    f3 = set(got[got.doc_id == 3].fingerprint)
    assert f0 == f3


# ------------------------------------------------------------------ multimodal


def test_byte_features_and_frame_stub(spark):
    rows = [
        ("m1", bytes(range(256)), "video", "h264", None, None, None),
        ("m2", b"\x00" * 100, "image", "png", None, None, None),
        ("m3", np.arange(50, dtype="<i2").tobytes(), "audio", "pcm_s16le",
         None, None, 50),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA)
    bf = multimodal.byte_features(media).toPandas().set_index("media_id")
    assert bf.loc["m1", "byte_entropy"] == pytest.approx(8.0)
    assert bf.loc["m2", "zero_ratio"] == 1.0
    assert bf.loc["m1", "n_bytes"] == 256

    ff = multimodal.frame_sample_features(media).toPandas().set_index("media_id")
    assert ff.loc["m3", "decoded"]  # real audio decode
    assert ff.loc["m1", "decoded"]  # deterministic fake for video
    assert not ff.loc["m2", "decoded"]  # garbage png: real decoder rejects
    ff2 = multimodal.frame_sample_features(
        media, deterministic_fake=False
    ).toPandas().set_index("media_id")
    assert not ff2.loc["m1", "decoded"]  # stub clearly reports undecodable


def test_media_null_blob_is_one_bad_row(spark):
    """A null media blob among good rows is one bad row, not a failed
    job: byte_features gives it the empty blob's row and
    frame_sample_features gives it decoded=false."""
    pcm = np.arange(50, dtype="<i2").tobytes()
    media = spark.createDataFrame(
        [("ok", pcm, "pcm_s16le"), ("null", None, "pcm_s16le"),
         ("empty", b"", "pcm_s16le")],
        "media_id string, bytes binary, codec string",
    )
    bf = multimodal.byte_features(media).toPandas().set_index("media_id")
    assert bf.loc["null"].tolist() == bf.loc["empty"].tolist() == [0, 0.0, 0.0, 0.0]
    assert bf.loc["ok", "n_bytes"] == len(pcm)

    ff = multimodal.frame_sample_features(media).toPandas().set_index("media_id")
    assert ff.loc["ok", "decoded"]
    assert not ff.loc["null", "decoded"]
    assert pd.isna(ff.loc["null", "frame_mean"]) and pd.isna(ff.loc["null", "frame_std"])


def test_frame_features_real_bmp_decode(spark):
    """BMP rows decode for REAL (no deterministic fake): the frame
    features must equal numpy stats of the known seeded pixel arrays."""
    from sparkfp import synth

    ids = [f"bmp_{i:02d}" for i in range(3)]
    rows = [
        (i, synth.image_bytes(i, "bmp"), "image", "bmp", 17, 24, None) for i in ids
    ] + [("j0", b"\xff\xd8 not a real jpeg", "image", "jpeg", None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA)
    ff = (
        multimodal.frame_sample_features(media, deterministic_fake=False)
        .toPandas()
        .set_index("media_id")
    )
    for i in ids:
        px = synth.image_pixels(i).astype(np.float64)
        assert ff.loc[i, "decoded"]
        assert ff.loc[i, "frame_mean"] == pytest.approx(px.mean(), abs=1e-12)
        assert ff.loc[i, "frame_std"] == pytest.approx(px.std(), abs=1e-12)
    assert not ff.loc["j0", "decoded"]  # malformed jpeg rejected by the real decoder


def test_frame_features_corrupt_image_rows_survive(spark):
    """A corrupt/truncated image row must yield decoded=false, never
    fail the Spark task: decode_image raises ValueError on malformed
    BMP/PPM bytes and frame_sample_features translates it per row."""
    from sparkfp import synth

    good = synth.image_bytes("ok0", "bmp")
    rows = [
        ("ok0", good, "image", "bmp", 17, 24, None),
        # truncated pixel data (headers intact, payload cut short)
        ("trunc", good[: len(good) // 2], "image", "bmp", 17, 24, None),
        # not a BMP at all
        ("garbage", b"\x00\x01\x02 definitely not BM", "image", "bmp",
         None, None, None),
        # bad dimensions: BM magic + zeroed headers
        ("zerohdr", b"BM" + b"\x00" * 60, "image", "bmp", None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA)
    ff = (
        multimodal.frame_sample_features(media, deterministic_fake=False)
        .toPandas()
        .set_index("media_id")
    )
    assert ff.loc["ok0", "decoded"]
    for bad in ("trunc", "garbage", "zerohdr"):
        assert not ff.loc[bad, "decoded"]
        assert ff.loc[bad, "frame_mean"] is None or np.isnan(
            ff.loc[bad, "frame_mean"]
        )


# ------------------------------------------------------------------ analytics


def test_hampel_matches_pandas(spark):
    rng = np.random.Generator(np.random.Philox(key=[3, 0]))
    vals = rng.standard_normal(60).cumsum()
    vals[10] += 50  # inject spikes
    vals[40] -= 40
    pdf = pd.DataFrame(
        {
            "k": "A",
            "ts": pd.date_range("2026-01-01", periods=60, freq="1min"),
            "v": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        analytics.hampel(df, "v", ["k"], "ts", window_size=7, n_sigmas=3.0,
                         out_col="clean")
        .orderBy("ts")
        .toPandas()
    )
    # pandas oracle (reference helpers.py:104-122)
    s = pdf.v
    med = s.rolling(7, center=True, min_periods=1).median()
    mad = (s - med).abs().rolling(7, center=True, min_periods=1).median()
    sigma = 1.4826 * mad
    outlier = (mad > 0) & ((s - med).abs() > 3.0 * sigma)
    exp = s.where(~outlier, med)
    assert np.allclose(got.clean.values, exp.values)
    assert outlier.sum() >= 2  # the spikes were caught
    assert not np.allclose(got.clean.values, vals)


def test_pivot_resample_value_counts(spark):
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:10", "2026-01-01 00:00:50",
                 "2026-01-01 00:01:10", "2026-01-01 00:01:40"]
            ),
            "param": ["a", "a", "a", "b"],
            "value": [1.0, 3.0, 5.0, 7.0],
        }
    )
    df = spark.createDataFrame(pdf)
    wide = analytics.pivot_wide(df, "ts", "param", "value").toPandas()
    assert wide.shape == (4, 3)
    res = (
        analytics.resample_mean(
            df.withColumnRenamed("value", "v"), "ts", ["param"], ["v"]
        )
        .orderBy("bucket", "param")
        .toPandas()
    )
    assert list(res.v) == [2.0, 5.0, 7.0]  # min-bucket means
    vc = analytics.value_counts_pct(df, "param").toPandas()
    assert list(vc["param"]) == ["a", "b"]
    assert list(vc.pct) == [75.0, 25.0]


def test_interval_and_asof_joins(spark):
    facts = spark.createDataFrame(
        [("k1", 5), ("k1", 15), ("k1", 25), ("k2", 5)], "k string, ts long"
    )
    ivals = spark.createDataFrame(
        [("k1", 0, 10, "w1"), ("k1", 20, 30, "w2"), ("k2", 100, 200, "w3")],
        "k string, start long, end long, name string",
    )
    out = joins.interval_join(facts, ivals, "k", "ts", "start", "end").collect()
    got = {(r["name"], r["ts"]) for r in out}
    assert got == {("w1", 5), ("w2", 25)}

    left = spark.createDataFrame([("k1", 10), ("k1", 21)], "k string, ts long")
    right = spark.createDataFrame(
        [("k1", 5, "a"), ("k1", 20, "b"), ("k1", 22, "c")],
        "k string, rts long, val string",
    )
    asof = joins.as_of_join(left, right, "k", "ts", "rts").collect()
    got = {(r["ts"], r["val"]) for r in asof}
    assert got == {(10, "a"), (21, "b")}


def test_asof_join_wide_left_and_duplicate_rows(spark):
    # the top-1 window keys on a synthetic row id, so (a) wide left rows
    # don't become the shuffle key and (b) byte-identical duplicate left
    # rows each keep their own match instead of collapsing to one
    wide_cols = ", ".join(f"c{i} string" for i in range(12))
    left = spark.createDataFrame(
        [("k1", 10) + ("x",) * 12, ("k1", 10) + ("x",) * 12,
         ("k1", 30) + ("y",) * 12],
        f"k string, ts long, {wide_cols}",
    )
    right = spark.createDataFrame(
        [("k1", 5, "a"), ("k1", 25, "b")], "k string, rts long, val string"
    )
    out = joins.as_of_join(left, right, "k", "ts", "rts").collect()
    assert len(out) == 3
    assert sorted((r["ts"], r["val"]) for r in out) == [
        (10, "a"), (10, "a"), (30, "b")
    ]


def test_bpe_like_token_count(spark):
    df = spark.createDataFrame(
        [(1, "don't stop!"), (2, "a1b2"), (3, "hello world"), (4, "  ")],
        "id long, text string",
    )
    got = {
        r.id: r.n
        for r in df.select("id", text.bpe_like_token_count("text").alias("n")).collect()
    }
    # don ' t stop !  /  a 1 b 2  /  hello world  /  (whitespace only)
    assert got == {1: 5, 2: 4, 3: 2, 4: 0}


def test_ivf_topk_finds_planted_neighbors(spark):
    """Perturbed copies of corpus vectors (cos ~0.999) land in the same
    probed inverted list, so IVF top-1 recovers the source exactly."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((100, 16))
    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(100)], "id long, v array<double>"
    )
    queries = spark.createDataFrame(
        [
            (1000 + i, (base[i] + 0.01 * rng.standard_normal(16)).tolist())
            for i in range(5)
        ],
        "id long, v array<double>",
    )
    got = similarity.ivf_topk(
        corpus.unionByName(queries), queries, "id", "v", dim=16, k=1,
        n_centroids=8, nprobe=3,
    ).toPandas()
    top1 = {r.query_id: r.neighbor_id for _, r in got.iterrows()}
    assert top1 == {1000 + i: i for i in range(5)}
    plan = similarity.ivf_topk(
        corpus, queries, "id", "v", dim=16, k=1, n_centroids=8, nprobe=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_near_dup_components_matches_union_find(spark):
    """Chain transitivity (A-B, B-C => one cluster), plus isolated nodes
    keeping their own label, vs an independent union-find oracle."""
    edges = [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)]
    node_ids = list(range(1, 15))

    parent = {i: i for i in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    exp = {}
    for i in node_ids:
        root = find(i)
        exp[i] = min(j for j in node_ids if find(j) == root)

    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.id: r.component
        for r in dedup.near_dup_components(nodes, pairs).collect()
    }
    assert got == exp


def test_near_dup_components_path_graph_log_rounds(spark):
    """Adversarial long chain: a 10^4-node path graph has diameter 10^4,
    so min-label propagation needs ~10^4 rounds; the alternating
    large-star/small-star contraction must collapse it to one component
    within max_iter=16 (~log2 n) rounds or raise."""
    n = 10_000
    nodes = spark.range(n)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labs = dedup.near_dup_components(nodes, pairs, max_iter=16)
    comps = labs.groupBy("component").count().collect()
    assert len(comps) == 1
    assert comps[0]["component"] == 0 and comps[0]["count"] == n


def test_parquet_scan_pushdown_and_pruning(spark):
    """Filters reach the parquet scan (PushedFilters) and the scan reads
    only the projected columns (ReadSchema) — at 100 TB an unpushed
    filter or unpruned scan is the difference between reading a
    partition and reading the lake."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_redact_pii_positive_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.1.254 answered"),
            (3, "no pii here"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in text.redact_pii(df, "text").collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert out[1].redacted == "mail me at [EMAIL] or call [PHONE]"
    assert out[2].n_ipv4 == 1 and out[2].redacted == "server at [IPV4] answered"
    assert out[3].redacted == "no pii here"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 0)


def test_redact_pii_counts_equal_placeholders_and_dates_survive(spark):
    """Counts are taken on progressively redacted text (so a
    digit-heavy email local part never double-counts as a phone), and
    date/timestamp strings must NOT be redacted as phones."""
    df = spark.createDataFrame(
        [
            (1, "mail 5551234567@example.com or 555-123-4567"),
            (2, "deployed 2026-01-01 12:34:56 and again 16-08-2026 09:15"),
            (3, "intl +4420794609 58 and local 123 4567"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in text.redact_pii(df, "text").collect()}
    # digit-heavy email counts once as email, zero as phone
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert out[1].redacted == "mail [EMAIL] or [PHONE]"
    # dates / timestamps untouched
    assert out[2].redacted == out[2].text
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
    # +international run and separated 3-4 local both redact
    assert out[3].n_phone == 2
    assert out[3].redacted == "intl [PHONE] 58 and local [PHONE]"


# ------------------------------------------------------------------ sampling


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """Membership is a pure function of (id, seed): same rows at any
    partition layout (df.sample() breaks on repartition), and the
    priority matches an independent python md5 computation."""
    import hashlib

    from sparkfp import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.2, seed=9).collect()}
    b = {
        r.doc_id
        for r in sampling.hash_sample(
            df.repartition(13), "doc_id", 0.2, seed=9
        ).collect()
    }
    assert a == b
    # independent oracle: first 15 md5 hex chars as int
    exp = {
        i
        for i in range(2000)
        if int(hashlib.md5(f"9:{i}".encode()).hexdigest()[:15], 16)
        < int(0.2 * 16**15)
    }
    assert a == exp
    assert 0.15 < len(a) / 2000 < 0.25  # binomial around 0.2
    # different seed -> different subset
    c = {r.doc_id for r in sampling.hash_sample(df, "doc_id", 0.2, seed=10).collect()}
    assert c != a and 0.15 < len(c) / 2000 < 0.25


def test_reservoir_per_key_exact_k_uniform(spark):
    """Exactly min(k, |stratum|) per key; selection equals the k
    smallest independent-md5 priorities; stable across repartition."""
    import hashlib

    from sparkfp import sampling

    rows = [(f"d{i:04d}", "big" if i < 300 else "small") for i in range(320)]
    df = spark.createDataFrame(rows, "doc_id string, grp string")
    out = sampling.reservoir_per_key(df.repartition(7), ["grp"], "doc_id", 8, seed=3)
    pdf = out.toPandas()
    sizes = pdf.groupby("grp").size().to_dict()
    assert sizes == {"big": 8, "small": 8}
    for grp, ids in (("big", range(300)), ("small", range(300, 320))):
        prio = sorted(
            (int(hashlib.md5(f"3:d{i:04d}".encode()).hexdigest()[:15], 16), f"d{i:04d}")
            for i in ids
        )
        exp = {d for _, d in prio[:8]}
        assert set(pdf[pdf.grp == grp].doc_id) == exp, grp


def test_sampling_input_validation_and_column_guard(spark):
    """fraction outside [0,1] / negative k raise instead of silently
    degenerating; a caller column named _prio_rn survives untouched."""
    from sparkfp import sampling

    df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    for bad in (-0.1, 1.5):
        with pytest.raises(ValueError, match="fraction"):
            sampling.hash_sample(df, "doc_id", bad)
    with pytest.raises(ValueError, match="k must be"):
        sampling.reservoir_per_key(df, ["doc_id"], "doc_id", -1)
    # boundary fractions stay legal
    assert sampling.hash_sample(df, "doc_id", 0.0).count() == 0
    assert sampling.hash_sample(df, "doc_id", 1.0).count() == 50

    clash = df.withColumn("grp", (F.col("doc_id") % 2).cast("string")).withColumn(
        "_prio_rn", F.lit(777)
    )
    out = sampling.reservoir_per_key(clash, ["grp"], "doc_id", 3).toPandas()
    assert "_prio_rn" in out.columns
    assert (out["_prio_rn"] == 777).all()
    assert out.groupby("grp").size().to_dict() == {"0": 3, "1": 3}


def test_reservoir_plan_uses_window_group_limit(spark):
    """Scale guard: on Spark 4 the row_number() <= k filter must
    compile to a WindowGroupLimit rank-limit pushdown with a PARTIAL
    (map-side, pre-shuffle) stage — each input partition forwards at
    most k rows per stratum instead of sorting whole strata. A
    regression to a full per-stratum window sort would be invisible in
    small-scale results, so pin the physical plan."""
    from sparkfp import sampling

    df = (
        spark.range(0, 10_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("grp", (F.col("doc_id") % 7).cast("string"))
    )
    plan = (
        sampling.reservoir_per_key(df, ["grp"], "doc_id", 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "row_number(), 5, Partial" in plan, plan
    assert "row_number(), 5, Final" in plan, plan
    # the Partial stage must sit BELOW the shuffle (printed deeper)
    assert plan.index("Partial") > plan.index("Exchange"), plan
