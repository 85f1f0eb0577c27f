"""Workloads: seeded inputs, cached gold, one run, and its correctness check.

Inputs and gold are built once per (input set, seed) under the work
directory, outside every timed window, and reused by later runs with the
same seed. The program under test sees only the generated parquet and the
``PipelineModel`` built from it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# transcript parquet row-group size: small enough that a few thousand turns
# still split into several scan tasks, as the pipeline's session expects
ROW_GROUP_ROWS = 2048

DELIVERABLES = ("documents", "triples", "edges", "entity_dict", "relation_dict", "links")
# deliverables written from a lazy DataFrame: writing them runs their layer
LAZY_DELIVERABLE_LAYER = {"documents": "assemble", "links": "linking"}


@dataclass(frozen=True)
class Workload:
    """One workload; why each exists is recorded in README.md and BENCHMARK.json."""

    name: str
    kind: str  # "pipeline" or "ops"
    fixture: dict = field(default_factory=dict)  # generator parameters


PIPELINE_CONTENT_SEED = 42

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kg_dense", "pipeline",
            dict(n_entities=300, n_conversations=1000, skew_conv_turns=2000, variant_surface_prob=0.5),
        ),
        # half the sf0.1 row counts (shape below): at full size one run took
        # ~14 s, too long to fit set-up and a timed run in a process's share
        # of the time a full set of benchmark runs may take
        Workload("ops_blocking", "ops", dict(n_docs=2500, n_vectors=1000, dim=64)),
    )
}


# sources whose change invalidates cached inputs and gold
INPUT_SOURCES = (
    "kgp/fixtures.py", "kgp/oracle.py", "kgp/oracles.py", "tools/selfcheck.py", "perfbench/workloads.py",
)


def input_dir(w: Workload, seed: int, work: str, root: str) -> str:
    """Cache directory of one input set and seed, keyed also by the
    generator parameters and the sources that build inputs and gold."""
    h = hashlib.sha256(json.dumps(w.fixture, sort_keys=True).encode())
    for rel in INPUT_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return os.path.join(work, "inputs", f"{w.name}-seed{seed}-{h.hexdigest()[:12]}")


def _atomic_dir(final: str, build) -> str:
    """Build a directory under a temporary name, then rename it in place."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another process finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# pipeline workloads
# ---------------------------------------------------------------------------

TRANSCRIPT_PA = pa.schema(
    [
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def build_pipeline_inputs(w: Workload, seed: int, work: str, root: str) -> str:
    """transcripts + alias dict parquet, the tagger model, and the oracle's
    gold, for one seed. Returns the directory.

    The content comes from a fixed generator seed and ``seed`` permutes the
    order of the conversations (each keeps its turns together): generating
    from ``seed`` itself varied the triple count by 7-9% (interquartile
    range over ten seeds), which swamped run-to-run changes in triples/s."""

    def build(d: str):
        from kgp.config import FixtureConfig
        from kgp.fixtures import alias_dict_rows, make_gazetteer, make_transcripts
        from kgp.oracle import oracle_pipeline

        fx = FixtureConfig(seed=PIPELINE_CONTENT_SEED, **w.fixture)
        gaz = make_gazetteer(fx)
        rows = make_transcripts(fx, gaz)
        convs = sorted({r["conv_id"] for r in rows})
        rank = dict(zip(convs, np.random.default_rng(np.random.PCG64(seed)).permutation(len(convs))))
        rows.sort(key=lambda r: (rank[r["conv_id"]], r["turn_idx"]))
        pq.write_table(
            pa.Table.from_pylist(rows, schema=TRANSCRIPT_PA),
            os.path.join(d, "transcripts.parquet"), row_group_size=ROW_GROUP_ROWS,
        )
        pq.write_table(pa.Table.from_pylist(alias_dict_rows(gaz)), os.path.join(d, "alias_dict.parquet"))
        _write_json(
            os.path.join(d, "model.json"),
            {
                "surfaces": [[s, e.etype] for e in gaz for s in e.surfaces],
                "surface_groups": {s: e.idx for e in gaz for s in e.surfaces},
            },
        )
        gold = oracle_pipeline(rows, gaz)
        _write_json(
            os.path.join(d, "gold.json"),
            {
                "turns": len(rows),
                "triples": [[t["conv_id"], t["subj"], t["pred"], t["obj"], t["src_turns"]] for t in gold["triples"]],
                "edges": [list(e) for e in gold["edges"]],
                "clusters": [[c["mention_id"], c["cluster_id"]] for c in gold["clusters"]],
                "links": [[x["cluster_id"], x["entity_id"]] for x in gold["links"]],
            },
        )

    return _atomic_dir(input_dir(w, seed, work, root), build)


def load_model(spark, inputs: str):
    from kgp.stages.pipeline import PipelineModel

    m = read_json(os.path.join(inputs, "model.json"))
    return PipelineModel(
        surfaces=[tuple(s) for s in m["surfaces"]],
        surface_groups=m["surface_groups"],
        alias_dict=spark.read.parquet(os.path.join(inputs, "alias_dict.parquet")),
    )


def run_pipeline_once(spark, inputs: str, model, outdir: str, span) -> dict:
    """One full run: input scan -> run_pipeline -> every deliverable written
    as parquet. ``span(layer)`` is a context manager around each write."""
    from kgp.stages.pipeline import run_pipeline

    transcripts = spark.read.parquet(os.path.join(inputs, "transcripts.parquet"))
    out = run_pipeline(spark, transcripts, model)
    for name in DELIVERABLES:
        with span(LAZY_DELIVERABLE_LAYER.get(name, "sink")):
            out[name].write.mode("overwrite").parquet(os.path.join(outdir, name))
    return out


def parquet_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def parquet_count(path: str) -> int:
    return pq.read_table(path, columns=[]).num_rows


def read_pipeline_outputs(out: dict, outdir: str) -> dict:
    """The checked outputs as comparable collections."""
    return {
        "triples": sorted(
            (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
            for t in parquet_rows(os.path.join(outdir, "triples"))
        ),
        "edges": sorted((e["h"], e["r"], e["t"]) for e in parquet_rows(os.path.join(outdir, "edges"))),
        "clusters": sorted(
            (r["mention_id"], r["cluster_id"]) for r in out["clusters"].select("mention_id", "cluster_id").collect()
        ),
        "links": sorted(
            (x["cluster_id"], x["entity_id"]) for x in parquet_rows(os.path.join(outdir, "links"))
        ),
    }


def gold_outputs(inputs: str) -> dict:
    g = read_json(os.path.join(inputs, "gold.json"))
    return {
        "turns": g["turns"],
        "triples": sorted((c, s, p, o, tuple(t)) for c, s, p, o, t in g["triples"]),
        "edges": sorted(tuple(e) for e in g["edges"]),
        "clusters": sorted(tuple(c) for c in g["clusters"]),
        "links": sorted(tuple(x) for x in g["links"]),
    }


def diff_outputs(got: dict, want: dict) -> list[str]:
    """Exact comparison; one line per mismatching output."""
    errors = []
    for key in ("triples", "edges", "clusters", "links"):
        if got[key] != want[key]:
            g, w = set(got[key]), set(want[key])
            errors.append(
                f"{key}: {len(got[key])} rows vs {len(want[key])} in the gold; "
                f"extra {sorted(g - w)[:2]} missing {sorted(w - g)[:2]}"
            )
    return errors


# ---------------------------------------------------------------------------
# ops_blocking
# ---------------------------------------------------------------------------

# Shape of the documents and embeddings test tables (sf0.1: 5,000
# documents, 2,000 vectors) the kgp.ops operators are certified on, as
# measured there and reproduced here:
# - words per document uniform on 10..99, plus one on a copy (median 54,
#   max 100);
# - 31 distinct words: the 30 below, each 3.3-3.4% of all words
#   (rank-frequency slope -0.16, i.e. no Zipf head), plus "dup";
# - one document in twenty is a copy of another with " dup" appended, so
#   ~5% of documents sit in a near-duplicate pair (256 pairs at 3-shingle
#   Jaccard >= 0.5), and two copies of one document are an exact
#   duplicate pair (8 such pairs);
# - 3-shingle document frequency is flat: max 25, p99 18, median 9, so
#   the operators' posting-list and bucket caps (1,000) never engage;
# - lang en 41%, de/es/fr/zh ~15% each; source src<row mod 20>;
#   n_chars = len(text); no punctuation;
# - embeddings: 64-d unit vectors with no cluster structure (each label's
#   centre has the norm of sampling noise, 0.07) and ten uniform labels.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table the value vector window"
).split()
DOC_WORDS_PER_DOC = (10, 99)
DUP_EVERY = 20
LANG_TAGS = ("en", "de", "es", "fr", "zh")
LANG_PROBS = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
N_LABELS = 10

OPS_CONTENT_SEED = 20190326

# (layer, output name) of the five certified operators, in run order
OPS = (
    ("dedup", "ngram_jaccard"),
    ("dedup", "minhash_lsh"),
    ("dedup", "simhash"),
    ("similarity", "ann_topk"),
    ("textstats", "quality"),
)


def _make_documents(rng, n_docs: int) -> pa.Table:
    """Documents with the measured shape above."""
    lo, hi = DOC_WORDS_PER_DOC
    texts = [
        " ".join(DOC_WORDS[int(k)] for k in rng.integers(len(DOC_WORDS), size=n))
        for n in rng.integers(lo, hi + 1, size=n_docs)
    ]
    for i in rng.choice(n_docs, size=n_docs // DUP_EVERY, replace=False):
        texts[int(i)] = texts[int(rng.integers(n_docs))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": texts,
            "lang": [LANG_TAGS[int(k)] for k in rng.choice(len(LANG_TAGS), size=n_docs, p=LANG_PROBS)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _make_embeddings(rng, n: int, dim: int) -> pa.Table:
    """Unit vectors in uniformly random directions, as float32 lists."""
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32())),
            "label": rng.integers(N_LABELS, size=n).astype(np.int32),
        }
    )


def _ops_gold_sql() -> dict:
    from kgp.oracles import ann_topk_sql, minhash_lsh_sql, ngram_jaccard_sql, quality_sql, simhash_sql

    return {
        "ngram_jaccard": ngram_jaccard_sql(3, 0.5),
        "minhash_lsh": minhash_lsh_sql(16, 4, 3),
        "simhash": simhash_sql(),
        "ann_topk": ann_topk_sql(5, 10),
        "quality": quality_sql(),
    }


def selfcheck_canon(root: str):
    """The order-insensitive row canonicalizer of ``tools/selfcheck.py``."""
    spec = importlib.util.spec_from_file_location("kgp_selfcheck", os.path.join(root, "tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def canon_hash(canon, rows: list[tuple], cols: list[str]) -> list:
    """-> [row count, sha256 of the column-name set and the canonical rows]."""
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in canon(rows, cols):
        h.update(line.encode())
        h.update(b"\n")
    return [len(rows), h.hexdigest()]


def build_ops_inputs(w: Workload, seed: int, work: str, root: str) -> str:
    """documents + embeddings parquet and each operator's DuckDB-twin hash.
    The table contents are fixed; the seed permutes their row order."""

    def build(d: str):
        import duckdb

        rng = np.random.default_rng(np.random.PCG64([OPS_CONTENT_SEED, 11]))
        docs = _make_documents(rng, w.fixture["n_docs"])
        emb = _make_embeddings(rng, w.fixture["n_vectors"], w.fixture["dim"])
        perm = np.random.default_rng(np.random.PCG64(seed))
        docs_path = os.path.join(d, "documents.parquet")
        emb_path = os.path.join(d, "embeddings.parquet")
        pq.write_table(docs.take(perm.permutation(docs.num_rows)), docs_path)
        pq.write_table(emb.take(perm.permutation(emb.num_rows)), emb_path)
        canon = selfcheck_canon(root)
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
            con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")
            gold = {}
            for name, sql in _ops_gold_sql().items():
                res = con.sql(sql)
                gold[name] = canon_hash(canon, res.fetchall(), [c[0] for c in res.description])
        finally:
            con.close()
        _write_json(os.path.join(d, "gold.json"), gold)

    return _atomic_dir(input_dir(w, seed, work, root), build)


def ops_queries(drops: list):
    """name -> (documents, embeddings) -> DataFrame, with the certified
    operator parameters. A blocking cap that engages appends to ``drops``:
    the SQL twins model no cap, so such a run cannot be checked."""
    from pyspark.sql import functions as F

    from kgp.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash60
    from kgp.ops.similarity import cosine_topk_bruteforce
    from kgp.ops.textstats import quality_score

    def on_drop(what):
        def hook(n):
            if n:
                drops.append(f"{what}: {n} keys dropped by the cap")

        return hook

    def ann(docs, emb):
        q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        out = cosine_topk_bruteforce(emb, q, k=10)
        return out.select("q_id", "vec_id", "cos", F.col("rank").cast("long").alias("rank"))

    return {
        "ngram_jaccard": lambda docs, emb: ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, on_drop=on_drop("ngram_jaccard max_shingle_df")
        ),
        "minhash_lsh": lambda docs, emb: minhash_lsh_pairs(
            docs, k=16, bands=4, n=3, on_drop=on_drop("minhash_lsh max_bucket_size")
        ),
        "simhash": lambda docs, emb: simhash60(docs),
        "ann_topk": ann,
        "quality": lambda docs, emb: quality_score(docs),
    }


def load_ops_inputs(spark, inputs: str):
    docs = spark.read.parquet(os.path.join(inputs, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(inputs, "embeddings.parquet")).select("vec_id", "embedding")
    return docs, emb


def run_ops_once(spark, inputs: str, span, drops: list) -> dict:
    """One run of the five operators, each collected to the driver, as the
    certification gate does. -> name -> (columns, rows)."""
    docs, emb = load_ops_inputs(spark, inputs)
    queries = ops_queries(drops)
    out = {}
    for layer, name in OPS:
        with span(layer):
            df = queries[name](docs, emb)
            out[name] = (df.columns, [tuple(r) for r in df.collect()])
    return out


def check_ops(out: dict, inputs: str, canon) -> list[str]:
    gold = read_json(os.path.join(inputs, "gold.json"))
    errors = []
    for _, name in OPS:
        cols, rows = out[name]
        got = canon_hash(canon, rows, cols)
        if got != gold[name]:
            errors.append(f"{name}: {got[0]} rows vs {gold[name][0]} in the DuckDB twin, or values differ")
    return errors
