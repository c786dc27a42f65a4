"""Plan-level guards for the dedup operators: the shared LSH bucket
self-join plans like the inline join it replaced, and the MinHash
plan build stays within a pinned number of py4j round trips."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _inline_bucket_pairs(postings, keys):
    """The bucket self-join as each caller spelled it before
    ngram.bucket_pairs: the reference the helper's plans are held to."""
    a = postings.select(*keys, F.col("id").alias("id_a"))
    b = postings.select(*keys, F.col("id").alias("id_b"))
    return (
        a.join(b, on=keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@pytest.mark.parametrize(
    "name",
    [
        "minhash_dedup_docs",
        "weighted_minhash_dedup_docs",
        "embedding_neardup_lsh",
        "ngram_jaccard_dups",
    ],
)
def test_bucket_pairs_plans_same_result_as_inline_join(spark, monkeypatch, name):
    """A query built through ngram.bucket_pairs optimizes to a plan
    with the same result as one built with the inline join. Local
    checkpoints are left out of both builds: each would be a fresh
    RDD, and two RDD scans never compare equal."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from zoom_spark.dedup import embedding, minhash, ngram, weighted_minhash
    from zoom_spark.queries import dedup_queries

    query = getattr(dedup_queries, name)
    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    new = query(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
    for mod in (embedding, minhash, ngram, weighted_minhash):
        monkeypatch.setattr(mod, "bucket_pairs", _inline_bucket_pairs)
    old = query(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
    assert new.sameResult(old)


def _py4j_commands(spark, build) -> int:
    """py4j commands sent while `build()` runs, not counting the
    reference releases ("m\\nd\\n"): those go out whenever Python drops
    a JVM object, so their number follows the garbage collector, not
    the build."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\nd\n"):
            n += 1
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return n


def test_minhash_build_py4j_commands(spark):
    """One warm build of minhash_dedup_docs (plan only, no action)
    made 4,138 py4j commands on each of 5 repeats: most of them one
    Column call per element of a Python-lambda higher-order function.
    A build that renders those expressions in fewer JVM calls lowers
    this ceiling; one that adds round trips fails it."""
    from zoom_spark.queries.dedup_queries import minhash_dedup_docs

    minhash_dedup_docs(spark, SF_DIR)  # warm: table scan, session state
    n = _py4j_commands(spark, lambda: minhash_dedup_docs(spark, SF_DIR))
    assert n <= 4200, n
