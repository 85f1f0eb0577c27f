"""Reuse points (kgp.reuse): the pipeline's and kgat_cf_embedding's
multi-consumer pins route through LineageLog stage tables (cluster
profile) or adaptive local checkpoints (default) with identical results —
the fix for the sf16 driver-heap finding (SCALING.md) and the
executor-loss story.
"""

import json
import os

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA, make_transcripts
from kgp.reuse import DISK_BYTES, SER_BYTES, default_reuse, input_fingerprint, lineage_reuse
from kgp.stages.pipeline import fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=20, n_entities=30)


_NAMES = ("mentions", "relations", "clusters", "links", "link_candidates", "triples", "edges")


def _snap(out, names=_NAMES):
    return {n: sorted(tuple(r) for r in out[n].collect()) for n in names}


def _python_udf_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [node for node in ("ArrowEvalPython", "BatchEvalPython") if node in plan]


def test_pipeline_table_reuse_matches_local(spark, tmp_path):
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)

    local = run_pipeline(spark, t, model)
    base = _snap(local)
    fp = input_fingerprint(t, model, DEFAULT_CONFIG)
    reuse = lineage_reuse(spark, str(tmp_path / "stages"), fp)
    out = run_pipeline(spark, t, model, reuse=reuse)

    # the linking query (recall join + cross-encoder) runs once per run:
    # the candidate table is pinned, and links and every candidate query
    # read the pin instead of planning the scoring UDF again
    for o in (local, out):
        assert _python_udf_nodes(o["links"]) == []
        assert _python_udf_nodes(o["link_candidates"]) == []
    analyzed = local["link_candidates"]._jdf.queryExecution().analyzed()
    assert analyzed.getClass().getSimpleName() == "LogicalRDD"  # a localCheckpoint
    assert reuse.lineage.read_manifest("link_candidates")["status"] == "ok"

    # identical results, identical schemas (no bucket column leaks)
    assert _snap(out) == base
    assert out["triples"].columns == ["conv_id", "subj", "pred", "obj", "src_turns"]

    # every multi-consumer pin is a committed stage table with a manifest
    ldir = str(tmp_path / "stages" / "_lineage")
    stages = {f[:-5] for f in os.listdir(ldir) if f.endswith(".json") and "buckets" not in f}
    assert {"tagged", "relations", "clusters", "triples", "graph_fwd", "graph_ids"} <= stages
    m = json.load(open(os.path.join(ldir, "tagged.json")))
    assert m["status"] == "ok" and m["input"] == fp and m["partitions"]

    # resume: a second run with the same fingerprint skips every stage
    # (run_stage short-circuits on the committed manifest) — byte-equal
    out2 = run_pipeline(spark, t, model, reuse=lineage_reuse(spark, str(tmp_path / "stages"), fp))
    assert _snap(out2) == base


def test_cf_embedding_table_reuse_matches_local(spark, tmp_path):
    import numpy as np

    from kgp.stages.graph import edge_softmax, kgat_cf_embedding

    rng = np.random.default_rng(11)
    n, d = 8, 4
    edges = spark.createDataFrame(
        [(int(i), int((i * 3 + 1) % n), float(rng.normal())) for i in range(2 * n)],
        "h long, t long, score double",
    )
    att = edge_softmax(edges).select("h", "t", "att")
    emb = rng.normal(size=(n, d)).tolist()
    layers = [(rng.normal(size=(d, 3)).tolist(), rng.normal(size=(d, 3)).tolist())]

    def snap(df):
        return sorted((r["h"], r["k"], round(r["val"], 9)) for r in df.collect())

    base = snap(kgat_cf_embedding(spark, att, emb, layers, reuse=default_reuse()))
    table = snap(
        kgat_cf_embedding(
            spark, att, emb, layers,
            reuse=lineage_reuse(spark, str(tmp_path / "cf"), "fp-cf", bucket_on=None),
        )
    )
    assert table == base
    assert os.path.exists(str(tmp_path / "cf" / "_lineage" / "cf_layer_1.json"))


def test_adaptive_ckpt_storage_selection(monkeypatch):
    """The default hook picks serialized pins above SER_BYTES of input,
    deserialized at or below, with KGP_CKPT_LEVEL force-overriding either
    way — the round-5 finding: serialized pins cut the 4-core sf16 leg
    ~23% (bandwidth/residency) but cost ~7% at sf0.1 (extra copy)."""
    monkeypatch.delenv("KGP_CKPT_LEVEL", raising=False)
    assert default_reuse().level == "deser"
    assert default_reuse(SER_BYTES).level == "deser"
    assert default_reuse(SER_BYTES + 1).level == "ser"
    monkeypatch.setenv("KGP_CKPT_LEVEL", "deser")
    assert default_reuse(SER_BYTES + 1).level == "deser"
    monkeypatch.setenv("KGP_CKPT_LEVEL", "ser")
    assert default_reuse(0).level == "ser"


def test_adaptive_ckpt_level_thresholds(monkeypatch):
    """Above the serialized tier the default hook moves pins to DISK_ONLY:
    serialized UnsafeRow up to DISK_BYTES, DISK_ONLY above (the sf16
    jstack probe caught single-threaded MemoryStore eviction stalling all
    cores when big pins sat in the storage pool — SCALING.md round-5).
    KGP_CKPT_LEVEL overrides the choice."""
    monkeypatch.delenv("KGP_CKPT_LEVEL", raising=False)
    assert default_reuse(DISK_BYTES).level == "ser"
    assert default_reuse(DISK_BYTES + 1).level == "disk"
    monkeypatch.setenv("KGP_CKPT_LEVEL", "ser")
    assert default_reuse(DISK_BYTES + 1).level == "ser"  # explicit override wins
    monkeypatch.setenv("KGP_CKPT_LEVEL", "deser")
    assert default_reuse(DISK_BYTES + 1).level == "deser"


def test_adaptive_ckpt_pipeline_equivalence(spark, monkeypatch):
    """The pin storage level is a pure storage-format choice: identical
    pipeline outputs at every level."""
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    snaps = {}
    for level in ("deser", "ser", "disk"):
        monkeypatch.setenv("KGP_CKPT_LEVEL", level)
        snaps[level] = _snap(run_pipeline(spark, t, model))
    assert snaps["ser"] == snaps["deser"]
    assert snaps["disk"] == snaps["deser"]
