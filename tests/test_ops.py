"""Tests for training-data pipeline ops (dedup / similarity / textstats /
multimodal) against brute-force or SQL-free references."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox walks over the lazy dog today"),  # near dup
        (5, "el rapido zorro marron salta sobre el perro"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from kgp.ops.dedup import exact_dedup

    out = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert out == {0, 2, 3, 4, 5}  # min doc_id survives


def test_ngram_jaccard_pairs(docs):
    from kgp.ops.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_exact_dups(docs):
    from kgp.ops.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, k=32, bands=8).collect()}
    assert (0, 1) in pairs  # identical docs always collide on every band
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_signature_matches_python(spark, docs):
    """Signature parity with a direct python computation of the same formula."""
    import hashlib

    from kgp.ops.dedup import MINHASH_P, MINHASH_SEED_A, MINHASH_SEED_B, minhash_signatures

    def py_sig(text, k=8, n=3):
        toks = text.split(" ")
        grams = []
        for i in range(max(len(toks) - n, 0) + 1):
            g = " ".join(toks[i : i + n])
            if g not in grams:
                grams.append(g)
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
        out = []
        for i in range(k):
            a = (MINHASH_SEED_A * (i + 1)) % MINHASH_P
            b = (MINHASH_SEED_B * (i + 1)) % MINHASH_P
            out.append(min((a * (h % MINHASH_P) + b) % MINHASH_P for h in hs))
        return out

    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(docs, k=8).collect()}
    want = {r["doc_id"]: py_sig(r["text"]) for r in docs.collect()}
    assert got == want


def test_simhash_near_dups_close(docs):
    from kgp.ops.dedup import simhash60

    h = {r["doc_id"]: r["simhash"] for r in simhash60(docs).collect()}
    assert h[0] == h[1]
    d_near = bin(h[0] ^ h[2]).count("1")
    d_far = bin(h[0] ^ h[3]).count("1")
    assert d_near < d_far


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(80)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_topk_matches_numpy(spark, vectors):
    from kgp.ops.similarity import cosine_topk_bruteforce

    items = vectors.collect()
    mat = np.array([r["embedding"] for r in items], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in items])
    queries = spark.createDataFrame(
        [(100, mat[3].tolist()), (101, mat[10].tolist())], "q_id long, q_emb array<float>"
    )
    out = cosine_topk_bruteforce(vectors, queries, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"]))
    for qi, qv in [(100, mat[3]), (101, mat[10])]:
        cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = ids[np.lexsort((ids, -cos))][:5].tolist()
        assert [v for _, v in sorted(got[qi])] == order


def test_lsh_recall(spark, vectors):
    from kgp.ops.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    queries = spark.createDataFrame(
        [(100, r["embedding"]) for r in vectors.limit(3).collect()], "q_id long, q_emb array<float>"
    ).withColumn("q_id", F.col("q_id") + F.monotonically_increasing_id())
    exact = cosine_topk_bruteforce(vectors, queries, k=5).collect()
    approx = cosine_topk_lsh(vectors, queries, k=5, n_planes=4, n_tables=6, dim=16).collect()
    ex = {(r["q_id"], r["vec_id"]) for r in exact}
    ap = {(r["q_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5  # probabilistic but stable for fixed seed


def test_ivf_topk_runs(spark, vectors):
    from kgp.ops.similarity import ivf_topk

    queries = spark.createDataFrame(
        [(0, vectors.collect()[5]["embedding"])], "q_id long, q_emb array<float>"
    )
    out = ivf_topk(vectors, queries, k=5, n_centroids=8, nprobe=8).collect()
    assert len(out) == 5
    assert out[0]["cos"] == pytest.approx(1.0)  # query == item 5, nprobe=all


def test_lang_id(spark):
    from kgp.ops.textstats import lang_id

    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of to in is"),
            (1, "el perro de la casa y los gatos en madrid"),
            (2, "der hund und die katze von zu mit"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert out == {0: "en", 1: "es", 2: "de"}


def test_quality_and_tokens(spark):
    from kgp.ops.textstats import quality_score, token_counts

    df = spark.createDataFrame(
        [(0, "the fox is here with the dog"), (1, "!!! ??? ...")],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert q[0]["quality"] > q[1]["quality"]
    assert q[0]["n_tokens"] == 7
    t = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert t[0]["ws_tokens"] == 7
    assert t[1]["bpe_tokens"] == 9  # each punctuation char is its own token


def test_fingerprint_stable(spark, docs):
    from kgp.ops.textstats import fingerprint

    a = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert a == b
    assert a[0] == a[1] and a[0] != a[3]


def test_multimodal_features(spark):
    from kgp.ops.multimodal import extract_features, frame_sample_plan, synthetic_media

    media = synthetic_media(spark, n=30)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == 8 for r in feats)
    # determinism: same content -> same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    first = {r["media_id"]: r["feature"] for r in feats}
    assert again == first
    plan = frame_sample_plan(media, every_ms=2000)
    assert plan.count() > 0
    assert plan.where(F.col("frame_ts_ms") % 2000 != 0).count() == 0


def test_decode_stub_raises(spark):
    from kgp.ops.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_embedding_cosine_dups_exact_and_lsh(spark):
    from kgp.ops.dedup import embedding_cosine_dups

    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # planted near-dups: 10/11 ~ copies of 0/3 with tiny noise
    rows.append((10, [float(x) for x in base[0] + 0.01 * rng.standard_normal(16)]))
    rows.append((11, [float(x) for x in base[3] + 0.01 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = embedding_cosine_dups(emb, threshold=0.95, lsh_planes=0)
    got = {(r["a_id"], r["b_id"]) for r in exact.collect()}
    assert got == {(0, 10), (3, 11)}

    # brute-force cosine check of one pair
    a = np.array(rows[0][1], dtype=np.float64)
    b = np.array(rows[6][1], dtype=np.float64)
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    spark_cos = exact.where((F.col("a_id") == 0) & (F.col("b_id") == 10)).collect()[0]["cos"]
    assert abs(spark_cos - want) < 1e-6

    # the LSH-blocked scale path must find the same high-threshold pairs
    # (near-identical vectors collide with overwhelming probability across
    # 6 tables of 6 planes)
    lsh = embedding_cosine_dups(emb, threshold=0.95, lsh_planes=6, lsh_tables=6, dim=16)
    got_lsh = {(r["a_id"], r["b_id"]) for r in lsh.collect()}
    assert got_lsh == {(0, 10), (3, 11)}


def test_hot_shingle_cap_bounds_ngram_join(spark):
    """One ubiquitous shingle must not create a quadratic candidate set:
    with the cap binding, pairs related ONLY through the stop-shingle
    disappear while genuine near-dups (many shared non-hot shingles)
    survive with their Jaccard reduced by at most the shared-hot count."""
    from kgp.ops.dedup import ngram_jaccard_pairs

    # boilerplate prefix: 5 of each doc's 3-shingles appear in all 20 docs
    stop = "as discussed above please"
    rows = [(i, f"{stop} unique body number {i} with text {i * 7}") for i in range(20)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta iota"))  # near dup of 100
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dropped = []
    capped = ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_shingle_df=10, on_drop=dropped.append
    )
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # boilerplate-only docs share just the 2 hot shingles -> no pair survives
    assert not any(a < 100 and b < 100 for a, b in got)
    assert (100, 101) in got
    assert dropped == [5]

    # uncapped control: the stop-shingle alone links nothing at this
    # threshold either (2 shared / ~12 total), but the JOIN fan-out is
    # 20^2/2 rows per hot shingle — the cap exists to prevent that work
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_df=None)
    assert (100, 101) in {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}


def test_minhash_bucket_cap(spark):
    """An adversarial all-identical corpus lands every doc in the same
    bucket of every band; the cap skips those buckets (and reports them),
    keeping the within-bucket join bounded."""
    from kgp.ops.dedup import minhash_lsh_pairs

    rows = [(i, "identical boilerplate text body here") for i in range(30)]
    rows += [(200, "some other document entirely about spark"),
             (201, "some other document entirely about spark")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dropped = []
    capped = minhash_lsh_pairs(docs, k=16, bands=4, max_bucket_size=10, on_drop=dropped.append)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (200, 201) in got
    assert not any(a < 100 and b < 100 for a, b in got)  # giant cluster skipped
    assert dropped and dropped[0] >= 4  # >= one oversized bucket per band

    full = minhash_lsh_pairs(docs, k=16, bands=4, max_bucket_size=None)
    assert full.count() == 30 * 29 // 2 + 1  # the quadratic set the cap avoids


def test_real_decode_ppm_wav_roundtrip():
    from kgp.ops.multimodal import decode_audio, decode_image, make_ppm, make_wav

    img = decode_image(make_ppm(8, 6, seed=3))
    assert img.shape == (6, 8, 3) and img.dtype == np.uint8
    # raster formula round-trips: byte k = (k*31 + seed*17) % 251
    idx = np.arange(8 * 6 * 3, dtype=np.int64)
    assert (img.reshape(-1) == ((idx * 31 + 3 * 17) % 251).astype(np.uint8)).all()
    # comment + whitespace tolerance is part of the netpbm spec
    assert decode_image(b"P6 # c\n# full line comment\n 2\t3\n255\n" + bytes(18)).shape == (3, 2, 3)

    samples, rate = decode_audio(make_wav(500, rate=8000, channels=2, seed=1))
    assert samples.shape == (500, 2) and samples.dtype == np.dtype("<i2") and rate == 8000


def test_extract_features_real_decoders(spark):
    from kgp.ops.multimodal import MEDIA_SCHEMA, extract_features, make_ppm, make_wav

    rows = [
        {"media_id": 0, "kind": "image", "content": bytearray(make_ppm(16, 12, seed=0)),
         "width": 16, "height": 12, "sample_rate": None, "duration_ms": None},
        {"media_id": 1, "kind": "image", "content": bytearray(make_ppm(4, 4, seed=9)),
         "width": 4, "height": 4, "sample_rate": None, "duration_ms": None},
        {"media_id": 2, "kind": "audio", "content": bytearray(make_wav(1000, seed=2)),
         "width": None, "height": None, "sample_rate": 16000, "duration_ms": None},
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"] for r in extract_features(media, use_stub=False).collect()}
    assert set(feats) == {0, 1, 2} and all(len(v) == 8 for v in feats.values())
    # image features are the actual per-channel means of the decoded raster
    from kgp.ops.multimodal import decode_image

    img = decode_image(make_ppm(16, 12, seed=0)).astype(np.float64)
    np.testing.assert_allclose(feats[0][:3], img.mean(axis=(0, 1)), rtol=1e-5)
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in extract_features(media, use_stub=False).collect()}
    assert again == feats
    # compressed payloads still hit the stub boundary loudly
    bad = spark.createDataFrame(
        [{"media_id": 9, "kind": "image", "content": bytearray(b"\x89PNG...."),
          "width": None, "height": None, "sample_rate": None, "duration_ms": None}],
        schema=MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|compressed image"):
        extract_features(bad, use_stub=False).collect()


def test_run_dedup_resumable_matches_and_resumes(spark, docs, tmp_path):
    """The lineage-backed dedup entry (stage-table reuse instead of
    localCheckpoint) yields identical pairs, and a re-run resumes from
    the committed stage tables instead of recomputing — without planning
    the op again, so its ``on_drop`` stays silent."""
    import os

    from kgp.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, run_dedup_resumable

    for method, direct in (
        ("minhash", lambda: minhash_lsh_pairs(docs, k=32, bands=8)),
        ("ngram", lambda: ngram_jaccard_pairs(docs, threshold=0.5)),
    ):
        out = str(tmp_path / method)
        drops = []
        kw = {"k": 32, "bands": 8} if method == "minhash" else {"threshold": 0.5}
        kw["on_drop"] = drops.append
        got = run_dedup_resumable(spark, docs, out, method=method, **kw)
        want = {tuple(sorted((r["doc_a"], r["doc_b"]))) for r in direct().collect()}
        assert {
            tuple(sorted((r["doc_a"], r["doc_b"]))) for r in got.collect()
        } == want
        # intermediate + final stage tables committed with manifests
        manifest = os.path.join(out, "_lineage", f"dedup_{method}_pairs.json")
        assert os.path.exists(manifest)
        assert os.path.isdir(os.path.join(out, f"dedup_{method}_pairs", "data"))
        # second run resumes: same rows, stage manifest untouched
        m0 = os.path.getmtime(manifest)
        again = run_dedup_resumable(spark, docs, out, method=method, **kw)
        assert again.count() == len(want)
        assert os.path.getmtime(manifest) == m0
        assert drops == [0]


def test_block_pairs_boundaries(spark):
    """The purge keeps a block of exactly ``max_block`` rows and drops one
    of ``max_block + 1``; ``on_drop`` always reports, 0 included; a pair
    sharing two blocks comes out once per block; a null key never pairs."""
    from kgp.ops.dedup import block_pairs

    rows = [(i, "three", "x") for i in (1, 2, 3)]
    rows += [(i, "four", "x") for i in (10, 11, 12, 13)]
    rows += [(20, "p", "x"), (21, "p", "x"), (20, "q", "x"), (21, "q", "x")]
    rows += [(30, None, "x"), (31, None, "x"), (40, "r", None), (41, "r", None)]
    keyed = spark.createDataFrame(rows, "id long, k string, k2 string")

    def pairs(df):
        return sorted((r["k"], r["a_id"], r["b_id"]) for r in df.collect())

    dropped = []
    capped = block_pairs(keyed, ["k", "k2"], "id", max_block=3, on_drop=dropped.append)
    assert sorted(capped.columns) == ["a_id", "b_id", "k", "k2"]
    assert dropped == [1]
    assert pairs(capped) == [
        ("p", 20, 21), ("q", 20, 21), ("three", 1, 2), ("three", 1, 3), ("three", 2, 3),
    ]

    dropped = []
    kept = block_pairs(keyed, ["k", "k2"], "id", max_block=4, on_drop=dropped.append)
    assert dropped == [0]
    assert len(pairs(kept)) == 5 + 6

    dropped = []
    uncapped = block_pairs(keyed, ["k", "k2"], "id", on_drop=dropped.append)
    assert dropped == [0]
    assert pairs(uncapped) == pairs(kept)


def test_null_and_empty_texts_match_sql_twins(spark):
    """Null and empty texts through the pair generators and SimHash agree
    with the DuckDB twins: a null text has no shingles, so it neither
    pairs with the other null text nor gets a fingerprint."""
    import duckdb

    from kgp import oracles
    from kgp.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash60
    from tools.selfcheck import canon

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, None), (4, ""), (5, "x"), (6, None), (7, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    for got, sql in (
        (ngram_jaccard_pairs(docs, n=3, threshold=0.5), oracles.ngram_jaccard_sql(3, 0.5)),
        (minhash_lsh_pairs(docs, k=16, bands=4, n=3), oracles.minhash_lsh_sql(16, 4, 3)),
        (simhash60(docs), oracles.simhash_sql()),
    ):
        res = con.sql(sql)
        want = canon(res.fetchall(), [d[0] for d in res.description])
        assert canon([tuple(r) for r in got.collect()], got.columns) == want, sql
