"""Multi-consumer reuse points — local checkpoint vs lineage stage tables.

A "reuse point" is a stage output consumed by more than one downstream
subtree (the tagged corpus feeds the relation/coref/linking branches;
each cf_embedding layer feeds messages + base + the final concat). It
must be materialized exactly once, and the downstream plans must read
the materialized form (plan truncation keeps Catalyst analysis time flat
as the pipeline deepens).

Every reuse hook in kgp is ``(df, name) -> DataFrame``, and every call
site names its reuse point (``tagged``, ``alias_posting``,
``cf_layer_1``, ``ngram_posting``, ...). Two interchangeable
implementations:

- :func:`default_reuse` — eager ``localCheckpoint`` whose storage level
  adapts to the input size. Fastest on a single box, but blocks live in
  executor/driver block storage: NOT fault-tolerant on executor loss,
  and at sf16 the pinned tagged/mention tables forced a 16 GB driver
  heap (SCALING.md "Round-4: sf16 memory finding").

- :func:`lineage_reuse` — each reuse point becomes a
  :class:`kgp.lineage.LineageLog` stage TABLE (bucketed parquet + a
  per-partition manifest, the sandbox analogue of Iceberg
  ``overwritePartitions``): executor-loss safe, resumable mid-run (a
  crashed job skips completed reuse points on re-run), and the blocks
  never touch the block manager — the cluster/resume profile. Callers
  pass it explicitly: ``run_pipeline`` keyed by :func:`input_fingerprint`,
  :func:`kgp.ops.dedup.run_dedup_resumable` by the input's
  :func:`content_fingerprint` and its parameters.
"""

from __future__ import annotations

import hashlib
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# input-parquet thresholds of default_reuse's storage tiers
SER_BYTES = 32_000_000
DISK_BYTES = 96_000_000


def content_fingerprint(df: DataFrame) -> str:
    """Partitioning-independent content hash of every column of ``df``.

    Per-row xxhash64 (plus a null mask, since xxhash64 skips nulls) is
    combined by a DECIMAL sum: unlike ``bit_xor`` it never cancels a pair
    of identical rows, and unlike a long sum it cannot wrap."""
    cols = df.columns
    row_h = F.xxhash64(*cols, *[F.isnull(c) for c in cols])
    h = df.select(
        F.sum(row_h.cast("decimal(38,0)")).alias("h"), F.count("*").alias("n")
    ).first()
    return f"{h['h']}:{h['n']}"


def input_fingerprint(transcripts: DataFrame, model, cfg) -> str:
    """Resume key of one pipeline run: content hash of every transcript
    column, of the ``PipelineModel`` (tagger surfaces, surface groups,
    alias-dictionary content) and of the config. Any change to any of
    them invalidates every downstream stage table."""
    model_h = hashlib.md5(
        repr(
            (
                list(model.surfaces),
                sorted(model.surface_groups.items()),
                content_fingerprint(model.alias_dict),
            )
        ).encode()
    ).hexdigest()[:12]
    cfg_h = hashlib.md5(repr(cfg).encode()).hexdigest()[:12]
    return f"{content_fingerprint(transcripts)}:{model_h}:{cfg_h}"


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the files feeding ``df`` — metadata only
    (no job). 0 when the input isn't file-backed (synthetic ranges,
    streaming sources)."""
    total = 0
    try:
        for p in df.inputFiles():
            if p.startswith("file:"):
                p = p[len("file:") :]
                while p.startswith("//"):
                    p = p[1:]
            total += os.path.getsize(p)
    except Exception:
        return 0
    return total


def default_reuse(in_bytes: int = 0):
    """The local reuse hook: eager localCheckpoint, storage level picked
    from the job's input size.

    Deserialized row blocks (localCheckpoint's default) are fastest when
    the pinned tables fit comfortably — but they carry ~10-20x the
    on-disk parquet footprint as JVM objects, and at sf16 that residency
    both forced a 16 GB driver heap and taxed memory bandwidth: the
    round-5 eventlog decomposition measured +14% task core-seconds on
    the 4-core leg, and switching the pins to serialized UnsafeRow bytes
    cut that leg ~23% (same host, same input). At sf0.1 the same switch
    is a ~7% LOSS (the extra ser/deser copy on a job whose pins are a
    few MB). So: serialized above SER_BYTES of input parquet (sf4/sf16
    qualify, the sf0.1 driver bench does not), deserialized below.

    Above DISK_BYTES (sf16 qualifies, sf4 does not) the pins go
    DISK_ONLY: the round-5 jstack probe of the sf16 4-core leg caught
    the 70 s driver-only gap red-handed as SINGLE-THREADED block
    eviction — the broadcast-exchange thread calling
    MemoryStore.evictBlocksToFreeSpace -> DiskStore.putBytes to push
    pinned checkpoint blocks to disk one at a time while every core
    idled. DISK_ONLY pays the same disk write, but inside the checkpoint
    job's parallel tasks (and the OS page cache serves the re-reads), so
    the serial stall never forms.

    ``KGP_CKPT_LEVEL=deser|ser|disk`` overrides the choice (the two arms
    of ``tools/pin_ab.py``).
    """
    level = os.environ.get("KGP_CKPT_LEVEL") or (
        "disk" if in_bytes > DISK_BYTES else "ser" if in_bytes > SER_BYTES else "deser"
    )
    # None = localCheckpoint's default (deserialized) block storage
    sl = {"ser": StorageLevel.MEMORY_AND_DISK, "disk": StorageLevel.DISK_ONLY}.get(level)

    def reuse(df: DataFrame, name: str | None = None) -> DataFrame:
        return df.localCheckpoint(eager=True, storageLevel=sl)

    reuse.level = level  # introspectable in tests
    return reuse


def lineage_reuse(
    spark: SparkSession,
    outdir: str,
    fingerprint: str,
    n_buckets: int = 16,
    bucket_on: str | None = "conv_id",
):
    """``(df, name) -> DataFrame`` that persists each reuse point as a
    LineageLog stage table under ``outdir`` and reads it back.

    Stages whose schema carries ``bucket_on`` commit at bucket
    granularity (dynamic partition overwrite, per-bucket progress — a
    mid-stage crash rebuilds only dirty buckets); others use the
    whole-stage tmp-dir + rename commit. Thread-safe across the
    pipeline's concurrent branch threads: each reuse point is its own
    stage with its own manifest file.
    """
    from kgp.lineage import LineageLog

    log = LineageLog(outdir, n_buckets=n_buckets)

    def reuse(df: DataFrame, name: str | None = None) -> DataFrame:
        if name is None:
            raise ValueError("lineage_reuse requires a stage name per reuse point")
        out = log.run_stage(spark, name, fingerprint, lambda: df, bucket_on=bucket_on)
        # the bucketed table layout adds its partition column on read-back;
        # a reuse point must hand downstream consumers the INPUT schema
        if "bucket" in out.columns and "bucket" not in df.columns:
            out = out.drop("bucket")
        return out

    reuse.lineage = log  # callers can read manifests / skew reports
    return reuse
