"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame dataflow designed for the 100 TB regime:

- :func:`exact_dedup` — hash-groupBy on the full text; one shuffle, keeps
  the smallest doc_id per group (deterministic survivor).
- :func:`block_pairs` — the one candidate-pair (blocking) primitive:
  purge blocks larger than a cap, then self-join rows within a block.
  Every pair generator below is keys + :func:`block_pairs` + scoring.
- :func:`ngram_jaccard_pairs` — blocks on word n-gram shingles (the
  classic inverted-index self-join: work is bounded by shingle
  posting-list sizes, not |docs|²); Jaccard from distinct-shingle counts.
- :func:`minhash_lsh_pairs` — blocks on LSH bands of a MinHash signature
  (K minima over universal-hash permutations of shingle hashes, banded
  into B groups): candidates are only pairs agreeing on a full band.
- :func:`embedding_cosine_dups` — blocks on hyperplane-LSH buckets
  (:func:`kgp.ops.similarity.lsh_keys`), rescored by exact cosine.
- :func:`simhash60` — 60-bit SimHash per document (bitwise majority over
  token hashes; 60 bits = the md5 15-hex-digit prefix both engines can
  compute identically). It emits fingerprints only; no pair join is
  built on them.

Shingle/token hashes use md5-prefix integers (``conv(substr(md5(g),1,15),
16,10)``) — chosen because the SAME value is computable in ANSI SQL
(DuckDB oracle) and in Spark builtins, keeping every step of these
operators SQL-checkable end-to-end. All hot paths are JVM expressions (no
Python UDFs anywhere in dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# universal-hash parameters for MinHash permutations:
# h_i(x) = (a_i * (x mod P) + b_i) mod P with P = 2^31-1 so every product
# stays below 2^62 — no 64-bit overflow in either Spark or the SQL oracle.
MINHASH_P = (1 << 31) - 1  # Mersenne prime
MINHASH_SEED_A = 1_000_003
MINHASH_SEED_B = 7_919


def _md5_int(col):
    """First 60 bits of md5 as a non-negative bigint (same formula in SQL:
    CAST(('0x' || substr(md5(g),1,15)) AS UBIGINT) in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id + distinct word-ngram shingle strings (JVM-side)."""
    toks = F.split(F.col(text_col), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    return df.select("doc_id", grams.alias("shingles"))


def dedup_within_group(df: DataFrame, group_cols: list, order_cols: list) -> DataFrame:
    """A13: keep the first row per group under a deterministic order
    (the reference's stateful seen-set during negative sampling,
    prepare_training_datasets.py:82-100, as a rank window)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One survivor per distinct text: min doc_id (deterministic)."""
    return df.groupBy(text_col).agg(F.min("doc_id").alias("doc_id")).select("doc_id", text_col)


def _lazy_checkpoint(df: DataFrame, name: str | None = None) -> DataFrame:
    """Default multi-consumer reuse point: lazy localCheckpoint.

    SINGLE-BOX ASSUMPTION: local checkpoints live in executor block
    storage and are NOT fault-tolerant on executor loss — fine in
    local[N] (one JVM), wrong on a real cluster. Cluster callers pass
    :func:`kgp.reuse.lineage_reuse` instead (as :func:`run_dedup_resumable`
    does), which persists the intermediate as a stage table and is
    resumable mid-run."""
    return df.localCheckpoint(eager=False)


def run_dedup_resumable(
    spark,
    df: DataFrame,
    outdir: str,
    method: str = "minhash",
    fingerprint: str | None = None,
    **kw,
):
    """Cluster-mode dedup entry: runs :func:`ngram_jaccard_pairs` /
    :func:`minhash_lsh_pairs` under :func:`kgp.reuse.lineage_reuse`, so
    their self-joined intermediate (``ngram_posting`` / ``minhash_banded``)
    is a stage TABLE instead of a localCheckpoint — executor-loss safe,
    and a crashed run resumes past the (expensive) shingling/signature
    pass. The final pair table is itself committed as a stage, so a
    finished dedup only reads it back on re-run: the op is not planned
    again and its ``on_drop`` does not fire. The fingerprint covers
    ``kw``: changed parameters never resume stale tables.
    """
    import hashlib

    from kgp.reuse import content_fingerprint, lineage_reuse

    ops = {"minhash": minhash_lsh_pairs, "ngram": ngram_jaccard_pairs}
    if method not in ops:
        raise ValueError(f"unknown dedup method {method!r}")
    fp = fingerprint or content_fingerprint(df)
    fp += ":" + hashlib.md5(repr(sorted(kw.items())).encode()).hexdigest()[:8]
    reuse = lineage_reuse(spark, outdir, fp, bucket_on=None)
    name = f"dedup_{method}_pairs"
    if reuse.lineage.is_done(name, fp):
        return reuse.lineage.run_stage(spark, name, fp, None, bucket_on=None)
    return reuse(ops[method](df, reuse=reuse, **kw), name)


def block_pairs(
    keyed: DataFrame, keys: list, id_col: str, max_block: int | None = None, on_drop=None
) -> DataFrame:
    """Candidate pairs of rows sharing a block: self-join on ``keys``.

    Every non-key column ``c`` comes out twice, as ``a_c`` and ``b_c``,
    with ``a_<id_col> < b_<id_col>``; the key columns come out once. A pair
    sharing several blocks appears once per block; a null key never pairs.

    ``max_block`` purges blocks of more than that many rows before the
    join: a block of B rows alone yields B²/2 pairs in one join key. Pass
    ``None`` to keep every block. The purge is never silent:
    ``on_drop(n_purged_blocks)`` is called whenever a callable is given,
    0 included (one small extra job when ``max_block`` is set).
    """
    if max_block is not None:
        big = (
            keyed.groupBy(*keys)
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_block)
            .select(*keys)
        )
        if on_drop is not None:
            on_drop(big.count())
        keyed = keyed.join(big, keys, "left_anti")
    elif on_drop is not None:
        on_drop(0)
    rest = [c for c in keyed.columns if c not in keys]
    a = keyed.select(*keys, *[F.col(c).alias(f"a_{c}") for c in rest])
    b = keyed.select(*keys, *[F.col(c).alias(f"b_{c}") for c in rest])
    return a.join(b, keys).where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
    on_drop=None,
    reuse=_lazy_checkpoint,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) with shingle Jaccard >= threshold.

    ``max_shingle_df`` is the :func:`block_pairs` cap on the posting-list
    self-join: a shingle appearing in more than that many documents (a
    stop-shingle like "the quick brown") would alone produce a quadratic
    candidate set inside one join key, so such shingles are dropped from
    CANDIDATE GENERATION (the join), not from the Jaccard denominators —
    overlap counts for pairs sharing a dropped shingle undercount by at
    most the number of shared hot shingles, i.e. the cap is conservative
    (it can only miss borderline pairs, never invent them). Pass ``None``
    to disable. The cap is never silent: ``on_drop(n_hot_shingles)`` is
    invoked whenever a callable is supplied; callers that must account
    for drops in lineage pass their metrics hook here.
    """
    sh = word_shingles(df, text_col, n).withColumn("n_sh", F.size("shingles"))
    # both sides of the self-join read this; the reuse point makes
    # shingling run once, not once per side (default: lazy localCheckpoint,
    # single-box only — see _lazy_checkpoint)
    ex = reuse(sh.select("doc_id", "n_sh", F.explode("shingles").alias("g")), "ngram_posting")
    return (
        block_pairs(ex, ["g"], "doc_id", max_shingle_df, on_drop)
        .groupBy("a_doc_id", "b_doc_id", "a_n_sh", "b_n_sh")
        .agg(F.count("*").alias("ov"))
        .withColumn("jaccard", F.col("ov") / (F.col("a_n_sh") + F.col("b_n_sh") - F.col("ov")))
        .where(F.col("jaccard") >= threshold)
        .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"), "jaccard")
    )


def minhash_signatures(
    df: DataFrame, k: int = 32, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """doc_id -> array of K minhash values (one shuffle-free pass)."""
    sh = word_shingles(df, text_col, n)
    hashed = sh.withColumn("hs", F.transform("shingles", lambda g: _md5_int(g)))

    def perm(i):
        # one-arg lambda only: Spark treats a 2-arg transform lambda as
        # (element, array_index), which would clobber the permutation index
        a = (MINHASH_SEED_A * (i + 1)) % MINHASH_P
        b = (MINHASH_SEED_B * (i + 1)) % MINHASH_P
        return lambda h: (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)

    mins = F.array(*[F.array_min(F.transform("hs", perm(i))) for i in range(k)])
    return hashed.select("doc_id", mins.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    max_bucket_size: int | None = 1000,
    on_drop=None,
    reuse=_lazy_checkpoint,
) -> DataFrame:
    """Candidate pairs agreeing on at least one full LSH band.

    signature length k split into ``bands`` rows of k/bands; bucket key =
    (band_idx, band slice). Output: distinct (doc_a < doc_b). A document
    without shingles (null text) has no signature and no band keys.

    ``max_bucket_size`` is the :func:`block_pairs` cap: an adversarial
    bucket of B docs yields B²/2 candidates in ONE task's join key, so
    buckets larger than the cap are skipped entirely (their members were
    going to be caught by a different, smaller band bucket if genuinely
    similar; a >cap bucket is overwhelmingly a degenerate/boilerplate
    cluster). ``None`` disables; ``on_drop(n_dropped_buckets)`` reports
    the cap when a callable is supplied — caps are never silent.
    """
    assert k % bands == 0
    r = k // bands
    # an all-null signature would band to key '' in every band
    sig = minhash_signatures(df, k, n, text_col).where(F.col("sig")[0].isNotNull())
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice("sig", bi * r + 1, r), lambda x: x.cast("string")
                            ),
                            "-",
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # self-joined below — the reuse point makes the K-permutation
    # signature computation run once (default: lazy localCheckpoint,
    # single-box only — see _lazy_checkpoint)
    banded = reuse(banded, "minhash_banded")
    return (
        block_pairs(banded, ["band", "key"], "doc_id", max_bucket_size, on_drop)
        .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
        .distinct()
    )


def simhash60(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document from whitespace tokens.

    60 (not 64) bits: token hashes are the md5 15-hex-digit prefix
    (`_md5_int`), the widest prefix whose value is computable identically
    in Spark builtins and ANSI SQL without signed-64 overflow.

    bit_j(doc) = 1 if sum over distinct tokens of sign(bit_j(h(token)))>0.
    Pure expression dataflow: explode tokens -> per-bit +/-1 via bitwise
    tests -> groupBy sum -> reassemble bits.
    """
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    ).withColumn("h", _md5_int(F.col("tok")))
    per_bit = toks.select(
        "doc_id",
        *[
            F.when(F.expr(f"(h div {1 << j}) % 2") == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"b{j}")
            for j in range(60)
        ],
    )
    agg = per_bit.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(60)]
    )
    sim = agg.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(60)),
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sim


def embedding_cosine_dups(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_planes: int = 6,
    lsh_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.

    Two physical strategies behind one contract (``(a_id, b_id, cos)``
    with ``a_id < b_id``):

    - ``lsh_planes == 0`` — exact all-pairs (broadcast nested-loop on the
      smaller side). O(N²): the correctness baseline, OPT-IN ONLY for
      oracle-checked bounded inputs — calling it on a large table is a
      cross-product explosion by construction.
    - ``lsh_planes > 0`` (the DEFAULT; planes=6/tables=4/seed=42 is the
      exact configuration the ``dedup_embedding_lsh`` driver query
      certifies against its SQL twin) — hyperplane-LSH blocking: each
      vector gets one ``(t, bucket)`` key per table
      (:func:`kgp.ops.similarity.lsh_keys`, shared with ``cosine_topk_lsh``)
      and :func:`block_pairs` compares only vectors sharing a key, with
      no block cap. Near-identical vectors collide with probability
      (1 - theta/pi)^planes per table; recall is tunable via
      planes/tables. This is the 100 TB path.

    Dot products accumulate as double in array order — bit-identical to
    the DuckDB oracle's list_transform/list_aggregate formulation.
    """
    from kgp.ops.similarity import cosine, lsh_keys

    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    if lsh_planes > 0:
        keys = F.inline(lsh_keys("emb", dim, lsh_planes, lsh_tables, seed))
        pairs = block_pairs(vecs.select("*", keys), ["t", "bucket"], "id")
        pairs = pairs.dropDuplicates(["a_id", "b_id"])
    else:
        a = vecs.select(F.col("id").alias("a_id"), F.col("emb").alias("a_emb"))
        b = vecs.select(F.col("id").alias("b_id"), F.col("emb").alias("b_emb"))
        pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
    return (
        pairs.select("a_id", "b_id", cosine("a_emb", "b_emb").alias("cos"))
        .where(F.col("cos") >= threshold)
    )
