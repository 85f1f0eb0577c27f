"""Differential end-to-end: Spark pipeline vs single-process oracle
(SURVEY.md §5.2-2). Gate: triple P/R >= 0.95; expected 1.0 at this scale.
Also verifies the per-turn text-equality invariant (input_hint)."""

import pytest

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA, make_gazetteer, make_transcripts
from kgp.oracle import oracle_pipeline
from kgp.stages.pipeline import fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=40, n_entities=48)


@pytest.fixture(scope="module")
def results(spark):
    rows = make_transcripts(FX, make_gazetteer(FX))
    transcripts = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    out = run_pipeline(spark, transcripts, model)
    gold = oracle_pipeline(rows, make_gazetteer(FX))
    return rows, out, gold


def _prf(pred: set, gold: set):
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 1.0
    r = tp / len(gold) if gold else 1.0
    return p, r


def test_per_turn_text_equality(spark, results):
    from kgp.stages.assemble import explode_documents

    rows, out, _ = results
    back = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["role"], r["tool"])
        for r in explode_documents(out["documents"]).collect()
    }
    assert len(back) == len(rows)
    for r in rows:
        assert back[(r["conv_id"], r["turn_idx"])] == (r["text"], r["role"], r["tool"])


def test_mentions_match_oracle(results):
    _, out, gold = results
    pred = {
        (m["conv_id"], m["turn_idx"], m["start"], m["end"], m["mention"], m["label"], m["mention_id"])
        for m in out["mentions"].collect()
    }
    want = {
        (m["conv_id"], m["turn_idx"], m["start"], m["end"], m["mention"], m["label"], m["mention_id"])
        for m in gold["mentions"]
    }
    assert want, "oracle found no mentions — fixture signal broken"
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_relations_match_oracle(results):
    _, out, gold = results
    pred = {
        (x["conv_id"], x["head_mention_id"], x["tail_mention_id"], x["rel"])
        for x in out["relations"].collect()
    }
    want = {
        (x["conv_id"], x["head_mention_id"], x["tail_mention_id"], x["rel"])
        for x in gold["relations"]
    }
    assert want
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_clusters_match_oracle(results):
    _, out, gold = results
    pred = {(c["mention_id"], c["cluster_id"]) for c in out["clusters"].collect()}
    want = {(c["mention_id"], c["cluster_id"]) for c in gold["clusters"]}
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_links_match_oracle(results):
    _, out, gold = results
    pred = {(l["cluster_id"], l["entity_id"]) for l in out["links"].collect()}
    want = {(l["cluster_id"], l["entity_id"]) for l in gold["links"]}
    assert want
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_triples_match_oracle(results):
    _, out, gold = results
    pred = {
        (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
        for t in out["triples"].collect()
    }
    want = {
        (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
        for t in gold["triples"]
    }
    assert want, "oracle produced no triples — fixture signal broken"
    p, r = _prf(pred, want)
    assert p >= 0.95 and r >= 0.95, (p, r, list(pred ^ want)[:5])
    assert p == 1.0 and r == 1.0  # expected exact at this scale


def test_edges_match_oracle(results):
    _, out, gold = results
    pred = sorted((e["h"], e["r"], e["t"]) for e in out["edges"].collect())
    want = sorted(gold["edges"])
    assert pred == want


def test_cluster_ids_are_min_mention_id(results):
    _, out, _ = results
    rows = out["clusters"].collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["mention_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)


QUIET_TEXT = "ok thanks, sounds good"
_PROJ = {
    "mentions": ("conv_id", "turn_idx", "start", "end", "mention", "label", "mention_id"),
    "relations": ("conv_id", "head_mention_id", "tail_mention_id", "rel"),
    "clusters": ("mention_id", "cluster_id"),
    "links": ("cluster_id", "entity_id"),
    "triples": ("conv_id", "subj", "pred", "obj", "src_turns"),
}


def _proj(recs, cols):
    return sorted(tuple(tuple(r[c]) if c == "src_turns" else r[c] for c in cols) for r in recs)


def test_tag_turns_mention_free_batch(spark):
    from kgp.stages.mentions import tag_turns

    model = fixture_model(spark, FX)
    t = spark.createDataFrame(
        [("conv-quiet", i, QUIET_TEXT) for i in range(5)], "conv_id string, turn_idx int, text string"
    )
    assert tag_turns(spark, t, model.surfaces).count() == 0


@pytest.mark.parametrize("batch", [1, 16384])
def test_mention_free_conversation_matches_oracle(spark, batch):
    """Every Arrow batch size is part of the input domain: at 1 record per
    batch most tagger batches are mention-free, and at 16384 the quiet
    conversation's own input partition is one mention-free batch."""
    fx = FixtureConfig(n_conversations=20, n_entities=30)
    gaz = make_gazetteer(fx)
    rows = make_transcripts(fx, gaz)
    quiet = [
        dict(rows[0], conv_id="conv-quiet", turn_idx=i, role="user", text=QUIET_TEXT, tool=None)
        for i in range(5)
    ]
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).union(
        spark.createDataFrame(quiet, schema=TRANSCRIPT_SCHEMA).coalesce(1)
    )
    gold = oracle_pipeline(rows + quiet, gaz)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(batch))
    try:
        out = run_pipeline(spark, t, fixture_model(spark, fx))
        for name, cols in _PROJ.items():
            assert _proj(out[name].collect(), cols) == _proj(gold[name], cols), name
        assert sorted(tuple(e) for e in out["edges"].collect()) == sorted(gold["edges"])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
