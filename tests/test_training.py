"""J9 negative sampling, W5 early stopping, F8 losses, S8 xlsx scan."""

import math
import os
import tempfile

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# S8: xlsx writer/parser round-trip + Spark reader
# ---------------------------------------------------------------------------


def test_xlsx_roundtrip_bytes():
    from kgp.io.xlsx import parse_xlsx_bytes, write_xlsx

    rows = [["A01.5", "acme corp disorder"], ["B12.0", "river & delta <x>"]]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.xlsx")
        write_xlsx(p, rows, header=["code", "name"])
        with open(p, "rb") as f:
            grid = parse_xlsx_bytes(f.read())
    assert grid[0] == ["code", "name"]
    assert grid[1:] == rows


def test_xlsx_numeric_and_sparse_cells():
    from kgp.io.xlsx import parse_xlsx_bytes, write_xlsx

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.xlsx")
        write_xlsx(p, [["x", 3, "z"], ["only"]])
        with open(p, "rb") as f:
            grid = parse_xlsx_bytes(f.read())
    assert grid[0] == ["x", "3", "z"]
    assert grid[1] == ["only"]


def test_xlsx_renamed_sheet_resolved_via_rels():
    """Exporters that deleted/reordered sheets store the first sheet under
    a non-default part name; the parser must resolve it through the
    workbook rels — a decoy sheet1.xml sorts first lexicographically AND
    sits first in zip order, so any shortcut parses the wrong sheet."""
    from kgp.io.xlsx import parse_xlsx_bytes, write_xlsx

    rows = [["A01.5", "real sheet"], ["B02.1"]]  # second row ragged
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.xlsx")
        write_xlsx(
            p, rows, header=["code", "name"],
            sheet_member="xl/worksheets/sheet3.xml",
            decoy=("xl/worksheets/sheet1.xml", [["WRONG", "SHEET"]]),
        )
        with open(p, "rb") as f:
            content = f.read()
        grid = parse_xlsx_bytes(content)
        assert grid == [["code", "name"], ["A01.5", "real sheet"], ["B02.1"]]
        # the decoy IS what a rels-ignoring reader would have parsed
        assert parse_xlsx_bytes(content, sheet="sheet1") == [["WRONG", "SHEET"]]


def test_read_excel_dict_matches_csv_twin(spark):
    from kgp.io.reader_fixtures import ensure_reader_fixtures
    from kgp.io.xlsx import read_excel_dict

    with tempfile.TemporaryDirectory() as d:
        paths = ensure_reader_fixtures(d)
        got = {
            (r.icd_code, r.entity_name)
            for r in read_excel_dict(spark, paths["icd_dict.xlsx"]).collect()
        }
        want = set()
        with open(paths["icd_dict.xlsx"] + ".csv") as f:
            next(f)
            for line in f:
                code, name = line.rstrip("\n").split(",", 1)
                want.add((code, name))
    assert got == want and len(got) == 50


def test_read_xlsx_empty_workbooks(spark):
    """A batch of empty workbooks is zero rows, not an Arrow conversion crash."""
    from kgp.io.xlsx import read_xlsx, write_xlsx

    with tempfile.TemporaryDirectory() as d:
        for i in range(3):
            write_xlsx(os.path.join(d, f"empty{i}.xlsx"), [])
        assert read_xlsx(spark, d).count() == 0


# ---------------------------------------------------------------------------
# J9: negative sampling
# ---------------------------------------------------------------------------


def _toy_cf(spark):
    rows = [(u, i) for u in range(6) for i in range(12) if (u * 5 + i * 3) % 4 != 0]
    return spark.createDataFrame(rows, "user long, item long")


def _py_neg_stream(seed, u, i, j, n_items):
    import hashlib

    h = hashlib.md5(f"{seed}|{u}|{i}|{j}".encode()).hexdigest()
    return int(h[:15], 16) % n_items


def test_negative_sample_items_matches_python_replay(spark):
    """Exact replay of the deterministic stream + rejection rule in plain
    Python (loader_kgat.py:191-202 semantics with the bounded budget):
    every emitted negative is the FIRST non-positive candidate, positives
    whose whole budget collides are dropped (documented behavior)."""
    from kgp.stages.training import negative_sample_items

    cf = _toy_cf(spark)
    pos = {(r.user, r.item) for r in cf.collect()}
    n_items = max(i for _, i in pos) + 1
    want = {}
    for u, i in pos:
        for j in range(1, 13):
            cand = _py_neg_stream(42, u, i, j, n_items)
            if (u, cand) not in pos:
                want[(u, i)] = (cand, j)
                break
    out = negative_sample_items(cf, attempts=12, seed=42).collect()
    got = {(r.user, r.pos_item): (r.neg_item, r.attempt) for r in out}
    assert got == want
    assert len(got) < len(pos)  # the dense toy really exercises the drop
    for r in out:
        assert (r.user, r.neg_item) not in pos


def test_negative_sample_items_universe_reaches_test_only_items(spark):
    """Reference n_items semantics (loader_base.py:71-75): the candidate
    modulus is the FULL item universe, so a train-split caller passing
    ``universe=`` can draw negatives among items seen only in the test
    split — which a split-derived modulus can never produce — and
    rejection still tests train positives only."""
    from kgp.stages.training import negative_sample_items

    # train covers items 0..3 (user u misses item u, so the split-derived
    # modulus leaves exactly one drawable negative); 4..9 exist only
    # outside the split
    train = spark.createDataFrame(
        [(u, i) for u in range(4) for i in range(4) if i != u], "user long, item long"
    )
    universe = spark.createDataFrame([(9,)], "item long")  # max item = 9

    split_only = negative_sample_items(train, attempts=12, seed=42).collect()
    assert split_only and all(r.neg_item < 4 for r in split_only)

    got = negative_sample_items(train, attempts=12, seed=42, universe=universe).collect()
    train_pos = {(r.user, r.item) for r in train.collect()}
    assert any(r.neg_item >= 4 for r in got)  # test-only items reachable
    for r in got:
        assert 0 <= r.neg_item <= 9
        assert (r.user, r.neg_item) not in train_pos
    # exact replay with the universe modulus: first non-train candidate
    for r in got:
        for j in range(1, 13):
            cand = _py_neg_stream(42, r.user, r.pos_item, j, 10)
            if (r.user, cand) not in train_pos:
                assert (cand, j) == (r.neg_item, r.attempt)
                break


def test_negative_sample_items_deterministic(spark):
    from kgp.stages.training import negative_sample_items

    cf = _toy_cf(spark)
    a = sorted(map(tuple, negative_sample_items(cf, seed=7).collect()))
    b = sorted(map(tuple, negative_sample_items(cf, seed=7).collect()))
    c = sorted(map(tuple, negative_sample_items(cf, seed=8).collect()))
    assert a == b
    assert a != c  # the seed actually feeds the stream


def test_negative_sample_tails(spark):
    from kgp.stages.training import negative_sample_tails

    rows = [(h, r, t) for h in range(5) for r in range(2) for t in range(8) if (h + r + t) % 3]
    kg = spark.createDataFrame(rows, "h long, r long, t long")
    pos = set(rows)
    n_nodes = 8
    want = {}
    for h, r, t in pos:
        for j in range(1, 13):
            cand = _py_neg_stream(42, h, r, f"{t}|{j}", n_nodes)
            if (h, r, cand) not in pos:
                want[(h, r, t)] = (cand, j)
                break
    out = negative_sample_tails(kg, attempts=12, seed=42).collect()
    got = {(x.h, x.r, x.t): (x.neg_t, x.attempt) for x in out}
    assert got == want
    for x in out:
        assert (x.h, x.r, x.neg_t) not in pos  # loader_kgat.py:256 predicate


# ---------------------------------------------------------------------------
# W5: early stopping (reference helper.py:26-33 prefix-replay)
# ---------------------------------------------------------------------------


def _ref_early_stopping(recall_list, stopping_steps):
    best_recall = max(recall_list)
    best_step = recall_list.index(best_recall)
    return best_recall, (len(recall_list) - best_step - 1 >= stopping_steps)


@pytest.mark.parametrize("k", [1, 2, 3])
def test_early_stopping_matches_reference_prefixes(spark, k):
    from kgp.stages.training import early_stopping_history

    recalls = [0.1, 0.3, 0.3, 0.5, 0.4, 0.5, 0.2, 0.1, 0.6, 0.6, 0.2]
    hist = spark.createDataFrame(
        list(enumerate(recalls)), "epoch long, recall double"
    )
    out = {r.epoch: r for r in early_stopping_history(hist, stopping_steps=k).collect()}
    for e in range(len(recalls)):
        prefix = recalls[: e + 1]
        best, stop = _ref_early_stopping(prefix, k)
        assert out[e].best_recall == pytest.approx(best)
        assert out[e].should_stop == stop, f"epoch {e} k {k}"
        assert out[e].best_epoch == prefix.index(best)


# ---------------------------------------------------------------------------
# F8: losses
# ---------------------------------------------------------------------------


def test_focal_loss_matches_numpy(spark):
    from kgp.functions.losses import focal_loss

    rng = np.random.RandomState(0)
    logits = rng.randn(200, 4)
    labels = rng.randint(0, 4, 200)
    df = spark.createDataFrame(
        [(list(map(float, lg)), int(lb)) for lg, lb in zip(logits, labels)],
        "logits array<double>, label int",
    )
    got = focal_loss(df, gamma=2.0).collect()[0]
    p = np.exp(logits - logits.max(1, keepdims=True))
    p /= p.sum(1, keepdims=True)
    pt = p[np.arange(200), labels]
    want = float(np.mean(-((1 - pt) ** 2) * np.log(pt)))
    assert got.n == 200
    assert got.focal_loss == pytest.approx(want, abs=1e-6)


def test_dice_loss_matches_numpy(spark):
    from kgp.functions.losses import dice_loss

    rng = np.random.RandomState(1)
    p = rng.rand(300)
    y = (rng.rand(300) > 0.5).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(p, y)], "p double, y double"
    )
    got = dice_loss(df, smooth=1e-4).collect()[0]
    want = 1 - (2 * float((p * y).sum()) + 1e-4) / (float(p.sum()) + float(y.sum()) + 1e-4)
    assert got.dice_loss == pytest.approx(want, abs=1e-6)
    got_sq = dice_loss(df, smooth=1e-4, square_denominator=True).collect()[0]
    want_sq = 1 - (2 * float((p * y).sum()) + 1e-4) / (
        float((p * p).sum()) + float((y * y).sum()) + 1e-4
    )
    assert got_sq.dice_loss == pytest.approx(want_sq, abs=1e-6)


def test_bpr_loss_matches_numpy(spark):
    from kgp.functions.losses import bpr_loss

    rng = np.random.RandomState(2)
    pos = rng.randn(150) * 5
    neg = rng.randn(150) * 5
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(pos, neg)],
        "pos_score double, neg_score double",
    )
    got = bpr_loss(df).collect()[0]
    want = float(np.mean(np.log1p(np.exp(-(np.abs(pos - neg)))) + np.maximum(neg - pos, 0)))
    assert got.bpr_loss == pytest.approx(want, abs=1e-6)


def _brute_nll(emissions, path, start, trans):
    """logZ by full path enumeration (short sequences only)."""
    import itertools

    n, L = emissions.shape
    scores = []
    for p in itertools.product(range(L), repeat=n):
        s = start[p[0]] + emissions[np.arange(n), list(p)].sum()
        s += sum(trans[a, b] for a, b in zip(p[:-1], p[1:]))
        scores.append(s)
    logz = float(np.logaddexp.reduce(scores))
    gold = start[path[0]] + emissions[np.arange(n), path].sum()
    gold += sum(trans[a, b] for a, b in zip(path[:-1], path[1:]))
    return logz - float(gold)


def test_crf_nll_batch_matches_bruteforce():
    from kgp.functions.losses import crf_nll_batch
    from kgp.functions.surrogate import _START, _TRANS, LABELS

    L = len(LABELS)
    rng = np.random.RandomState(3)
    ems = [rng.randn(n, L) for n in (1, 2, 3)]
    paths = [[int(x) for x in rng.randint(0, L, e.shape[0])] for e in ems]
    got = crf_nll_batch(ems, paths)
    for g, e, p in zip(got, ems, paths):
        assert g == pytest.approx(_brute_nll(e, p, _START, _TRANS), abs=1e-9)
    # ragged batch: same value as singleton evaluation (padding must not leak)
    solo = [crf_nll_batch([e], [p])[0] for e, p in zip(ems, paths)]
    assert got == pytest.approx(solo, abs=1e-12)


def test_crf_nll_df_gold_path_below_null_path(spark):
    """NLL of the gazetteer-consistent labeling must not exceed the all-O
    labeling on turns that mention a known surface."""
    from kgp.functions.losses import crf_nll

    surfaces = [("acme corp", "ORG")]
    df = spark.createDataFrame(
        [
            ("c1", 0, "we met acme corp yesterday", ["O", "O", "B-ORG", "I-ORG", "O"]),
            ("c1", 1, "we met acme corp yesterday", ["O", "O", "O", "O", "O"]),
            ("c1", 2, "", []),
        ],
        "conv_id string, turn_idx int, text string, bio_labels array<string>",
    )
    out = {r.turn_idx: r.nll for r in crf_nll(df, surfaces=surfaces).collect()}
    assert out[0] < out[1]
    assert out[2] == 0.0
    assert all(v >= 0 for v in out.values())


def test_crf_nll_sql_twin_matches_spark(spark):
    """The DuckDB recursive-CTE forward pass (oracles.crf_nll_sql) must
    reproduce the Spark crf_nll query value-for-value — the differential
    the driver records for loss_crf_nll, pinned here at sf0.001."""
    import duckdb

    import __spark_entry__ as entry
    from kgp import oracles
    from kgp.fixtures import (
        fixture_config_for_sf,
        make_gazetteer,
        sf_from_dir,
        tagger_surfaces,
    )
    from kgp.entry_support import ensure_fixtures

    sf_dir = entry.SF001
    fdir = ensure_fixtures(sf_dir)
    sf = sf_from_dir(sf_dir)
    surfaces = tagger_surfaces(make_gazetteer(fixture_config_for_sf(sf, skew=sf >= 0.05)))
    sql = oracles.crf_nll_sql(
        os.path.join(fdir, "transcripts.parquet"), surfaces
    )
    want = {
        (c, t): n for c, t, n in duckdb.connect().execute(sql).fetchall()
    }
    got = {
        (r.conv_id, r.turn_idx): r.nll
        for r in entry.queries()["loss_crf_nll"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, v in got.items():
        assert v == pytest.approx(want[k], abs=1e-9), k
    assert any(v > 0 for v in got.values())  # gazetteer hits exist at sf0.001
