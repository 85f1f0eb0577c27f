"""Differential end-to-end: Spark pipeline vs single-process oracle
(SURVEY.md §5.2-2). Gate: triple P/R >= 0.95; expected 1.0 at this scale.
Also verifies the per-turn text-equality invariant (input_hint)."""

from contextlib import contextmanager

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import FILLER, ROLES, TOOLS, TRANSCRIPT_SCHEMA, make_gazetteer, make_transcripts
from kgp.functions.surrogate import TRIGGER2REL
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


@contextmanager
def _arrow_batch(spark, n):
    """Run the body at ``arrow.maxRecordsPerBatch = n``; restore the setting."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


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

    with _arrow_batch(spark, batch):
        out = run_pipeline(spark, t, fixture_model(spark, fx))
        for name, cols in _PROJ.items():
            assert _proj(out[name].collect(), cols) == _proj(gold[name], cols), name
        assert sorted(tuple(e) for e in out["edges"].collect()) == sorted(gold["edges"])


# --- hypothesis-driven differential test over generated transcript tables ---

_HFX = FixtureConfig(n_conversations=4, n_entities=12)
_HGAZ = make_gazetteer(_HFX)
_SIGNAL_WORDS = sorted({s for e in _HGAZ for s in e.surfaces} | set(TRIGGER2REL))
_QUIET_WORDS = list(FILLER) + [".", ",", "?", "(", ")"]
# any code point Spark can carry: lone surrogates have no UTF-8 encoding
_CHARS = st.characters(blacklist_categories=("Cs",))
_UNICODE_WORD = st.text(_CHARS, min_size=1, max_size=6)


@st.composite
def _conversation(draw, conv_no):
    quiet = draw(st.booleans())  # a mention-free conversation
    words = st.sampled_from(_QUIET_WORDS) | _UNICODE_WORD
    if not quiet:
        words = st.sampled_from(_SIGNAL_WORDS) | words
    texts = draw(st.lists(st.none() | st.lists(words, max_size=10).map(" ".join), min_size=1, max_size=6))
    gaps = draw(st.lists(st.integers(1, 6), min_size=len(texts), max_size=len(texts)))
    conv_id = f"c{conv_no}-" + draw(st.text(_CHARS, max_size=3))
    rows = []
    turn_idx = draw(st.integers(0, 3))
    for text, gap in zip(texts, gaps):
        rows.append({
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": draw(st.sampled_from(ROLES)),
            "text": text,
            "tool": draw(st.none() | st.sampled_from(TOOLS) | _UNICODE_WORD),
            "ts": None,
        })
        turn_idx += gap  # turn_idx gaps up to 5 turns, across the coref window
    # re-delivered turns: exact duplicate rows
    dups = draw(st.lists(st.sampled_from(range(len(rows))), max_size=2))
    return rows + [dict(rows[i]) for i in dups]


@st.composite
def _transcript_table(draw):
    n = draw(st.integers(1, 4))
    return [row for c in range(n) for row in draw(_conversation(c))]


@pytest.mark.parametrize("batch", [1, 7, 16384])
@settings(max_examples=4, deadline=None, derandomize=True, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(rows=_transcript_table())
def test_generated_transcripts_match_oracle(spark, batch, rows):
    """run_pipeline equals oracle_pipeline on generated transcript tables
    (mention-free conversations, duplicate turns, turn_idx gaps, unicode
    text/ids/tools, null text/tool) at every Arrow batch size. Row tables
    compare as sets (a duplicated turn re-emits identical rows); triples
    and edges compare exactly. Derandomized, so tier-1 runs the same
    examples every time."""
    gold = oracle_pipeline(rows, _HGAZ)
    with _arrow_batch(spark, batch):
        t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
        out = run_pipeline(spark, t, fixture_model(spark, _HFX))
        for name, cols in _PROJ.items():
            got, want = _proj(out[name].collect(), cols), _proj(gold[name], cols)
            if name == "triples":
                assert got == want, name
            else:
                assert sorted(set(got)) == sorted(set(want)), name
        cand_cols = ("cluster_id", "surface", "alias", "entity_id", "score")
        assert set(_proj(out["link_candidates"].collect(), cand_cols)) == set(
            _proj(gold["candidates"], cand_cols)
        )
        assert sorted(tuple(e) for e in out["edges"].collect()) == sorted(gold["edges"])
