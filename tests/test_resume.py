"""Resume test (SURVEY.md §5.2-3) through the shipped composition:
``run_pipeline(..., reuse=lineage_reuse(...))`` — kill after stage k,
re-run, byte-identical output; lineage shows skipped stages; any change
to the input, the model or the config invalidates every stage table."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import ALIAS_SCHEMA, TRANSCRIPT_SCHEMA, alias_dict_rows, make_gazetteer, make_transcripts
from kgp.reuse import input_fingerprint, lineage_reuse
from kgp.stages.pipeline import PipelineModel, fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=20, n_entities=30)


def _snap(out):
    return {
        name: sorted(tuple(r) for r in out[name].collect())
        for name in [
            "mentions", "relations", "clusters", "links", "link_candidates", "triples", "edges",
        ]
    }


def _run(spark, t, model, outdir, cfg=DEFAULT_CONFIG):
    reuse = lineage_reuse(spark, outdir, input_fingerprint(t, model, cfg))
    return run_pipeline(spark, t, model, cfg, reuse=reuse), reuse.lineage


def test_resume_skips_and_reproduces(spark, tmp_path):
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    outdir = str(tmp_path / "run")
    ldir = os.path.join(outdir, "_lineage")

    out1, log = _run(spark, t, model, outdir)
    snap1 = _snap(out1)
    assert snap1["triples"], "pipeline produced no triples"
    tagged1 = open(os.path.join(ldir, "tagged.json")).read()
    # the linking dictionary is pinned through the same hook
    alias_stages = ["alias_norm", "alias_wtab", "alias_posting"]
    assert all(log.read_manifest(st)["status"] == "ok" for st in alias_stages)
    alias1 = {st: open(os.path.join(ldir, f"{st}.json")).read() for st in alias_stages}

    # simulate a crash after the tagger and relation branch: wipe the
    # manifests of every later reuse point
    wiped = ["clusters", "link_candidates", "triples", "graph_ids", "graph_fwd"]
    for stage in wiped:
        os.remove(os.path.join(ldir, f"{stage}.json"))

    out2, _ = _run(spark, t, model, outdir)
    assert _snap(out2) == snap1  # byte-identical output after resume
    # earlier stages were skipped (manifest untouched), wiped ones recommitted
    assert open(os.path.join(ldir, "tagged.json")).read() == tagged1
    assert {st: open(os.path.join(ldir, f"{st}.json")).read() for st in alias_stages} == alias1
    assert all(log.read_manifest(s)["status"] == "ok" for s in wiped)

    # per-partition metrics present and consistent: the tagged stage holds
    # one row per mention plus one token row per multi-mention turn
    m1 = json.loads(tagged1)
    assert m1["status"] == "ok"
    n_tagged = len(snap1["mentions"]) + out1["turn_tokens"].count()
    assert sum(p["rows_out"] for p in m1["partitions"]) == n_tagged

    # changed input -> everything rebuilds and output differs
    rows3 = make_transcripts(FixtureConfig(n_conversations=30, n_entities=30))
    t3 = spark.createDataFrame(rows3, schema=TRANSCRIPT_SCHEMA)
    out3, _ = _run(spark, t3, model, outdir)
    assert len(_snap(out3)["mentions"]) > len(snap1["mentions"])
    m3 = log.read_manifest("tagged")
    assert m3["input"] != m1["input"]  # fingerprint change recorded


def test_resume_mention_free_input(spark, tmp_path):
    """Zero-row stage tables (a bucketed stage with no rows writes no part
    file) read back with the manifest's schema: build and resume both
    yield an empty graph instead of failing schema inference."""
    quiet = [
        {"conv_id": f"conv-quiet-{c}", "turn_idx": i, "role": "user",
         "text": "ok thanks, sounds good", "tool": None, "ts": None}
        for c in range(3)
        for i in range(5)
    ]
    t = spark.createDataFrame(quiet, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    outdir = str(tmp_path / "quiet")
    for _ in range(2):  # build, then resume from the committed tables
        out, log = _run(spark, t, model, outdir)
        assert out["triples"].count() == 0
        assert out["edges"].count() == 0
    assert log.read_manifest("tagged")["rows_out"] == 0


def test_resume_after_alias_dict_change_is_fresh(spark, tmp_path):
    """Resuming a lineage dir under a halved alias dictionary must serve
    the fresh run's triples and edges, not the stale ones."""
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    alias_rows = alias_dict_rows(make_gazetteer(FX))
    halved = PipelineModel(
        model.surfaces,
        model.surface_groups,
        spark.createDataFrame(alias_rows[: len(alias_rows) // 2], schema=ALIAS_SCHEMA),
    )

    outdir = str(tmp_path / "run")
    full = _snap(_run(spark, t, model, outdir)[0])
    resumed = _snap(_run(spark, t, halved, outdir)[0])
    fresh = _snap(_run(spark, t, halved, str(tmp_path / "fresh"))[0])
    assert fresh["links"] != full["links"]  # the change is visible in the output
    assert resumed == fresh
    assert input_fingerprint(t, halved, DEFAULT_CONFIG) != input_fingerprint(t, model, DEFAULT_CONFIG)


def test_fingerprint_covers_every_column_and_duplicates(spark):
    rows = make_transcripts(FixtureConfig(n_conversations=4, n_entities=12))
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FixtureConfig(n_conversations=4, n_entities=12))
    fp = input_fingerprint(t, model, DEFAULT_CONFIG)

    # role is not read by the tagger, but documents carry it
    assert input_fingerprint(t.withColumn("role", F.lit("system")), model, DEFAULT_CONFIG) != fp

    # the same row count, each set a duplicated row pair: a cancelling
    # combiner (bit_xor) would hash both tables alike
    def with_pair(r):
        return spark.createDataFrame(rows + [r, r], schema=TRANSCRIPT_SCHEMA)

    a = dict(rows[0], conv_id="dup", text="first duplicate")
    b = dict(rows[0], conv_id="dup", text="second duplicate")
    fp_a = input_fingerprint(with_pair(a), model, DEFAULT_CONFIG)
    assert fp_a != input_fingerprint(with_pair(b), model, DEFAULT_CONFIG)
    assert fp_a != fp


def test_skew_report(spark, tmp_path):
    rows = make_transcripts(FixtureConfig(n_conversations=15, n_entities=30, skew_conv_turns=300))
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FixtureConfig(n_conversations=15, n_entities=30))
    _, log = _run(spark, t, model, str(tmp_path / "skewrun"))
    rep = log.skew_report("tagged")
    assert rep["max"] >= rep["median"] > 0


def test_bucket_granular_resume(spark, tmp_path):
    """§4.3 overwritePartitions contract: a crash that loses some bucket
    directories (after their progress entries committed, before the stage
    manifest) resumes by rebuilding ONLY those buckets — clean bucket
    files are untouched on disk — and reproduces identical output."""
    import shutil

    from kgp.lineage import LineageLog

    log = LineageLog(str(tmp_path / "bg"), n_buckets=8)
    rows = [(f"conv-{i:03d}", i, f"text {i}") for i in range(200)]

    def build():
        return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    df1 = log.run_stage(spark, "s", "fp1", build)
    snap1 = sorted(tuple(r) for r in df1.drop("bucket").collect())
    out = log.data_path("s")

    def mtimes():
        t = {}
        for d in os.listdir(out):
            if d.startswith("bucket="):
                files = [
                    os.path.join(out, d, f)
                    for f in os.listdir(os.path.join(out, d))
                    if f.endswith(".parquet")
                ]
                t[int(d.split("=")[1])] = max(os.stat(f).st_mtime_ns for f in files)
        return t

    t1 = mtimes()
    assert len(t1) == 8

    # crash: two bucket dirs lost, stage manifest never landed
    victims = sorted(t1)[:2]
    for b in victims:
        shutil.rmtree(os.path.join(out, f"bucket={b}"))
    os.remove(os.path.join(str(tmp_path / "bg"), "_lineage", "s.json"))

    df2 = log.run_stage(spark, "s", "fp1", build)
    snap2 = sorted(tuple(r) for r in df2.drop("bucket").collect())
    assert snap2 == snap1
    t2 = mtimes()
    for b, m in t1.items():
        if b in victims:
            assert t2[b] > m  # rebuilt
        else:
            assert t2[b] == m  # byte-untouched: only dirty buckets rewritten

    # completed manifest short-circuits: build_fn must not run again
    def explode():
        raise AssertionError("stage should have been skipped")

    df3 = log.run_stage(spark, "s", "fp1", explode)
    assert sorted(tuple(r) for r in df3.drop("bucket").collect()) == snap1

    # fingerprint change hard-resets every bucket
    os.remove(os.path.join(str(tmp_path / "bg"), "_lineage", "s.json"))
    df4 = log.run_stage(spark, "s", "fp2", build)
    assert sorted(tuple(r) for r in df4.drop("bucket").collect()) == snap1
    assert all(e["input"] == "fp2" for e in log.read_bucket_progress("s").values())


def test_crash_between_write_and_progress_commit(spark, tmp_path):
    """Fault injection in the §4.3 commit protocol's worst window: the
    bucket parquet files land but the process dies BEFORE the progress map
    commits. The orphaned output has unknown provenance — resume must
    hard-reset it (never trust dirs without progress entries), and a
    resume under a CHANGED input must not let any stale bucket survive
    dynamic partition overwrite (a no-rows-under-new-input bucket would
    otherwise be silently kept and counted)."""
    from kgp.lineage import LineageLog

    root = str(tmp_path / "cr")
    log = LineageLog(root, n_buckets=8)

    def build_v1():
        return spark.createDataFrame(
            [(f"conv-{i:03d}", i, "v1") for i in range(200)],
            "conv_id string, turn_idx int, payload string",
        )

    def build_v2():
        # v2 input: only 40 conversations -> most buckets hold FEWER rows,
        # and rows are distinguishable from v1's
        return spark.createDataFrame(
            [(f"conv-{i:03d}", i, "v2") for i in range(40)],
            "conv_id string, turn_idx int, payload string",
        )

    # crash run: parquet write succeeds, progress commit never happens
    real_commit = log._write_bucket_progress
    log._write_bucket_progress = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before progress commit")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        log.run_stage(spark, "s", "fp-v1", build_v1)
    log._write_bucket_progress = real_commit
    out = log.data_path("s")
    assert os.path.isdir(out)  # orphaned parquet really is on disk
    assert log.read_bucket_progress("s") == {}  # ...with no provenance

    # resume under a CHANGED fingerprint: no stale v1 row may survive
    df = log.run_stage(spark, "s", "fp-v2", build_v2)
    got = sorted(tuple(r) for r in df.drop("bucket").collect())
    assert got == sorted((f"conv-{i:03d}", i, "v2") for i in range(40))
    m = json.load(open(os.path.join(root, "_lineage", "s.json")))
    assert m["rows_out"] == 40  # part_metrics counted no orphaned bucket

    # same crash, then resume under the SAME fingerprint: full rebuild,
    # output identical to an uncrashed run
    log2 = LineageLog(str(tmp_path / "cr2"), n_buckets=8)
    real2 = log2._write_bucket_progress
    log2._write_bucket_progress = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before progress commit")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        log2.run_stage(spark, "s", "fp-v1", build_v1)
    log2._write_bucket_progress = real2
    df2 = log2.run_stage(spark, "s", "fp-v1", build_v1)
    want = sorted(tuple(r) for r in build_v1().collect())
    assert sorted(tuple(r) for r in df2.drop("bucket").select("conv_id", "turn_idx", "payload").collect()) == want
    assert len(log2.read_bucket_progress("s")) == 8
