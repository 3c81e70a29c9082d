"""Structural pin for the r14 lazy shingle-set checkpoint fusion (ADVICE r14).

The three shingle pipelines (``minhash_lsh_candidate_pairs``,
``minhash_lsh_incremental_pairs``, ``prefix_filter_jaccard_pairs``) hold a
LAZY ``localCheckpoint`` on the shared shingle sets; the single EAGER
band/prefix checkpoint immediately downstream is, by construction, the
FIRST action touching them, so tokenization runs fused in that one job.
That ordering is load-bearing: an edit that makes the
band/prefix checkpoint lazy defers materialization into the consumer,
re-arming the concurrent first-touch double-execution trap.

What is pinned, per operator: over every SQL execution the build
triggers, the shingle-explode ``Generate`` downstream of the lazy
checkpoint emits exactly ONE pass over the docs' shingles. Zero means
nothing materialized at build time (the checkpoint went lazy); twice
means the signature or prefix-row pass over the sets ran twice. The
count does NOT see tokenization itself: the docs scan and tokens
projection sit inside the lazy checkpoint, whose execution reports no
row metrics (its RDD is computed under the eager checkpoint's job), so
an extra action that materializes the sets without exploding them
(e.g. ``shsets.count()`` ahead of the eager checkpoint) moves
tokenization out of the fused job unseen. Job counts are no measure of
either: AQE submits one job per shuffle stage inside the single eager
checkpoint, so the job count moves with the plan shape and the host's
core count while the work stays the same.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.functions.metrics import (
    last_execution_id,
    session_generated_rows,
)
from kinesis_stream_consumer_spark.operators.dedup import (
    minhash_lsh_candidate_pairs,
    minhash_lsh_incremental_pairs,
    prefix_filter_jaccard_pairs,
    shingle_sets,
)

SHINGLE_EXPLODE = "explode(shingles#"


def _docs_frame(spark):
    rows = []
    words = [f"w{i}" for i in range(30)]
    for d in range(10):
        rows.append((f"d{d:02d}", " ".join(words[d * 2 : d * 2 + 12])))
    return spark.createDataFrame(rows, "doc_id string, body string")


def _one_pass(df) -> int:
    """Rows one explode pass over the sets emits: the docs' total distinct
    shingle count (an aggregate over the sets — no explode of its own)."""
    n = shingle_sets(df, "body", "doc_id").agg(F.sum(F.size("shingles")))
    return n.first()[0]


def _exploded_during(spark, fn):
    """Run fn; return (result, shingle rows exploded by its executions)."""
    before = last_execution_id(spark)
    out = fn()
    return out, session_generated_rows(spark, before, SHINGLE_EXPLODE)


def test_candidate_pairs_build_explodes_sets_once(spark):
    df = _docs_frame(spark)
    expected = _one_pass(df)
    pairs, exploded = _exploded_during(
        spark, lambda: minhash_lsh_candidate_pairs(df, "body", "doc_id")
    )
    assert exploded == expected, (
        f"build exploded {exploded} shingle rows, expected exactly one "
        f"pass ({expected}): the eager band checkpoint must be the sole "
        "build action and must materialize the lazy shingle sets"
    )
    # the returned frame is consumable (sets really did materialize)
    assert pairs.count() >= 0


def test_incremental_pairs_build_explodes_sets_once(spark):
    df = _docs_frame(spark).withColumn(
        "is_new", F.col("doc_id") >= F.lit("d05")
    )
    expected = _one_pass(df)
    pairs, exploded = _exploded_during(
        spark,
        lambda: minhash_lsh_incremental_pairs(df, "body", "doc_id", "is_new"),
    )
    assert exploded == expected, (
        f"build exploded {exploded} shingle rows, expected exactly one "
        f"pass ({expected}) (fused band+flags checkpoint materializing "
        "the lazy shingle sets)"
    )
    assert pairs.count() >= 0


def test_prefix_filter_build_explodes_sets_once(spark):
    df = _docs_frame(spark)
    expected = _one_pass(df)
    pairs, exploded = _exploded_during(
        spark, lambda: prefix_filter_jaccard_pairs(df, "body", "doc_id")
    )
    assert exploded == expected, (
        f"build exploded {exploded} shingle rows, expected exactly one "
        f"pass ({expected}) (eager prefix checkpoint materializing the "
        "lazy shingle sets)"
    )
    assert pairs.count() >= 0
