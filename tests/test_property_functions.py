"""Hypothesis property tests: the column-expression implementations
must agree with straightforward Python reference implementations on
random inputs (SURVEY.md §5.2.4 — unit tests beyond the oracle gate).

Each example batches all generated rows into ONE DataFrame so a
hypothesis example costs one Spark job, not one per row.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish text with plenty of whitespace variety
texts = st.lists(
    st.text(
        alphabet=st.sampled_from(
            list("abcXYZ012 .,!\t\n") + ["é", "ß"]
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=30,
)


def _py_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.strip()) if t != ""]


def _py_shingles(s: str, n: int = 3) -> list[str]:
    toks = _py_tokens(s.lower())
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    seen, out = set(), []
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@given(texts)
@settings(**SETTINGS)
def test_shingles_match_python_reference(spark, rows):
    from zoom_spark.dedup.ngram import shingles

    df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)], ["i", "t"])
    got = {
        r["i"]: list(r["sh"])
        for r in df.select("i", shingles(F.col("t"), 3).alias("sh")).collect()
    }
    for i, s in enumerate(rows):
        assert got[i] == _py_shingles(s, 3), f"mismatch on {s!r}"


@given(texts)
@settings(**SETTINGS)
def test_token_counts_match_python_reference(spark, rows):
    from zoom_spark.functions.text import token_count, ws_tokens

    df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)], ["i", "t"])
    got = {
        r["i"]: (list(r["toks"]), r["n"])
        for r in df.select(
            "i",
            ws_tokens("t").alias("toks"),
            token_count("t").alias("n"),
        ).collect()
    }
    for i, s in enumerate(rows):
        exp = _py_tokens(s)
        assert got[i] == (exp, len(exp)), f"mismatch on {s!r}"


@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from("abcde"), max_size=8),
            st.lists(st.sampled_from("abcde"), max_size=8),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_jaccard_matches_set_definition(spark, pairs):
    from zoom_spark.dedup.ngram import jaccard

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<string>, b array<string>",
    )
    got = {
        r["i"]: r["j"]
        for r in df.select(
            "i",
            F.round(
                jaccard(F.array_distinct("a"), F.array_distinct("b")), 6
            ).alias("j"),
        ).collect()
    }
    for i, (a, b) in enumerate(pairs):
        sa, sb = set(a), set(b)
        exp = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert abs(got[i] - round(exp, 6)) < 1e-9


@given(texts)
@settings(**SETTINGS)
def test_simhash_identical_texts_distance_zero(spark, rows):
    from zoom_spark.dedup.simhash import hamming, simhash_md5

    df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)], ["i", "t"])
    sigs = df.select(
        "i",
        simhash_md5(F.col("t")).alias("s1"),
        simhash_md5(F.col("t")).alias("s2"),
    )
    bad = sigs.where(hamming(F.col("s1"), F.col("s2")) != 0).count()
    assert bad == 0


@given(
    st.lists(st.text(alphabet="abc xyz", max_size=40), min_size=1, max_size=20),
    st.integers(min_value=0, max_value=5),
)
@settings(**SETTINGS)
def test_conform_schema_contract(spark, rows, extra_cols):
    """conform_schema must emit exactly the contract columns in order,
    null-filling missing ones, regardless of input column drift
    (reference reindex semantics, /root/reference/main.py:65)."""
    from zoom_spark.operators.conform import conform_schema

    df = spark.createDataFrame([(s,) for s in rows], ["a"])
    for i in range(extra_cols):
        df = df.withColumn(f"x{i}", F.lit(i))
    contract = [
        ("a", "string"),
        ("missing1", "int"),
        ("x0", "long"),
        ("missing2", "string"),
    ]
    out = conform_schema(df, contract)
    assert out.columns == [n for n, _ in contract]
    first = out.first()
    assert first["missing1"] is None and first["missing2"] is None
    if extra_cols == 0:
        # x0 absent from the input -> typed NULL
        assert first["x0"] is None


def test_approx_quantiles_within_bound_of_exact(spark):
    """approx_percentile's sketch must land within rank-error bounds
    of the exact percentiles (accuracy 10000 -> eps = 1/10000; allow
    a generous value tolerance via neighboring exact quantiles)."""
    from pyspark.sql import functions as F

    from zoom_spark.io import load_table
    from zoom_spark.queries.agg_breadth import approx_quantiles_prices

    got = {
        r.o_orderstatus: [float(v) for v in r.approx_quartiles_csv.split(",")]
        for r in approx_quantiles_prices(spark, SF_DIR).collect()
    }
    o = load_table(spark, SF_DIR, "orders")
    exact = {
        r.o_orderstatus: r.q
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.24, 0.25, 0.26, 0.49, 0.5,"
                " 0.51, 0.74, 0.75, 0.76))"
            ).alias("q")
        )
        .collect()
    }
    for status, approx in got.items():
        lo24, _, hi26, lo49, _, hi51, lo74, _, hi76 = exact[status]
        assert lo24 <= approx[0] <= hi26
        assert lo49 <= approx[1] <= hi51
        assert lo74 <= approx[2] <= hi76


def test_udtf_chunking_matches_jvm_chunking(spark):
    """The Python UDTF chunker (slow path, for logic that outgrows
    column expressions) must agree row-for-row with the JVM
    fixed_chunks expansion (fast path)."""
    from zoom_spark.functions.chunking import ChunkDocs, fixed_chunks
    from zoom_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    docs.createOrReplaceTempView("chunk_docs_in")
    spark.udtf.register("chunk_docs", ChunkDocs)
    via_udtf = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk
        FROM chunk_docs_in d, LATERAL chunk_docs(d.text) c
        """
    )
    via_jvm = docs.select(
        "doc_id", F.explode(fixed_chunks("text", 120, 20)).alias("c")
    ).select("doc_id", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    assert via_udtf.count() > 0
    assert via_udtf.subtract(via_jvm).count() == 0
    assert via_jvm.subtract(via_udtf).count() == 0


def test_observation_metrics_match_direct_agg(spark):
    """df.observe(): pipeline metrics collected as a side effect of
    the write action (the Spark-first form of the reference's per-load
    row-count logging, /root/reference/main.py:67,119-121) — no second
    scan of the data."""
    from pyspark.sql import Observation

    from zoom_spark.io import load_table

    o = load_table(spark, SF_DIR, "orders")
    obs = Observation("load_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2).alias(
            "total_price"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    direct = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2).alias("t"),
    ).first()
    assert obs.get["n_rows"] == direct.n
    assert obs.get["total_price"] == direct.t


def test_map_in_arrow_normalization_matches_jvm(spark):
    """mapInArrow (zero-copy Arrow batches, the lowest-overhead
    Python escape hatch) must agree with the JVM higher-order-function
    form of L2 vector normalization."""
    import pyarrow as pa

    from zoom_spark.functions.vectors import norm
    from zoom_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    def normalize(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            ids = tbl.column("vec_id").to_pylist()
            vecs = tbl.column("v").to_pylist()
            out = []
            for v in vecs:
                n = sum(x * x for x in v) ** 0.5
                out.append([x / n for x in v] if n > 0 else v)
            yield pa.RecordBatch.from_pydict(
                {"vec_id": ids, "unit": out},
                schema=pa.schema(
                    [("vec_id", pa.int64()), ("unit", pa.list_(pa.float64()))]
                ),
            )

    via_arrow = emb.mapInArrow(normalize, schema="vec_id bigint, unit array<double>")
    via_jvm = emb.select(
        "vec_id",
        F.transform("v", lambda x: x / norm(F.col("v"))).alias("unit"),
    )
    joined = via_arrow.withColumnRenamed("unit", "unit_a").join(via_jvm, on="vec_id")
    # elementwise agreement to double precision
    diff = joined.select(
        F.aggregate(
            F.zip_with("unit_a", "unit", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_abs_diff")
    )
    assert diff.agg(F.max("max_abs_diff")).first()[0] < 1e-12
    assert via_arrow.count() == emb.count()


@given(
    st.lists(
        st.text(alphabet=st.sampled_from(list("abcde XYZ.01")), min_size=0, max_size=400),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_chunking_reconstructs_text(spark, docs):
    """Dropping each chunk's overlap prefix (after the first) and
    concatenating must reproduce the original text exactly — chunking
    loses nothing and invents nothing."""
    from zoom_spark.functions.chunking import fixed_chunks

    size, overlap, step = 120, 20, 100
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    rows = (
        df.select(
            "doc_id", "text", F.explode(fixed_chunks("text", size, overlap)).alias("c")
        )
        .select("doc_id", "text", "c.chunk_id", "c.chunk")
        .collect()
    )
    by_doc: dict[int, list] = {}
    originals: dict[int, str] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk))
        originals[r.doc_id] = r.text
    for i, t in enumerate(docs):
        if len(t) == 0:
            assert i not in by_doc  # empty docs produce no chunks
            continue
        chunks = [c for _, c in sorted(by_doc[i])]
        rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
        assert rebuilt == t


@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=300),
    st.integers(min_value=10, max_value=1000),
)
@settings(**SETTINGS)
def test_prefix_sum_and_packing_match_python_reference(spark, weights, budget):
    """Distributed prefix sum / shard packing vs a straight Python
    cumsum on arbitrary weight sequences and budgets."""
    from zoom_spark.operators.prefix import pack_by_budget

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "k bigint, w bigint"
    )
    got = {
        r.k: (r.shard_id)
        for r in pack_by_budget(df, "k", "w", budget=budget, num_partitions=7).collect()
    }
    cum = 0
    for i, w in enumerate(weights):
        assert got[i] == cum // budget
        cum += w


def test_collation_case_insensitive_grouping(spark):
    """Spark 4 collation support: UTF8_LCASE groups case variants
    together while leaving distinct words apart."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Apple",), ("apple",), ("APPLE",), ("pear",)], "w string"
    )
    out = {
        r["wl"].lower(): r["n"]
        for r in df.groupBy(F.collate("w", "UTF8_LCASE").alias("wl"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == {"apple": 3, "pear": 1}


def test_from_xml_nested_extraction(spark):
    """Spark 4 native XML parsing mirrors the from_json nested-field
    projection family (P5) for XML payloads."""
    from pyspark.sql import functions as F

    x = spark.createDataFrame(
        [(1, "<r><a>1</a><b>x</b></r>"), (2, "<r><a>7</a><b>y</b></r>"),
         (3, "not xml at all")],
        "id long, xml string",
    )
    rows = (
        x.select("id", F.from_xml("xml", "a INT, b STRING").alias("s"))
        .select("id", "s.a", "s.b")
        .orderBy("id")
        .collect()
    )
    assert [(r["a"], r["b"]) for r in rows[:2]] == [(1, "x"), (7, "y")]
    assert rows[2]["a"] is None  # malformed row nulls out, no crash
