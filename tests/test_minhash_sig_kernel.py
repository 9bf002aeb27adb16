"""Differential locks for the r15 factored minhash signature kernel.

The kernel (scale/dedup._sig_min_udf) claims bit-identical values to
the retired formulations: ``xxhash64(shingle, lit(i))`` per permutation
(the r6 explode form) and the r3 aggregate+zip_with fold. These tests
rebuild BOTH retired expression forms inline and compare value-for-
value on adversarial inputs (NULL text, empty text, unicode, single
word, long text, duplicate ids, carry columns), so any drift in the
hashInt factoring — prime constants, rotation widths, signedness of
the min — fails loudly instead of silently corrupting every signature
downstream.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datar_polars_spark.scale.dedup import (
    _minhash_sigs,
    minhash_signature,
    word_shingles,
)

TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "a"),
    (2, ""),
    (3, None),
    (4, "é中文 snow☃ mixed UNICODE tokens " * 7),
    (5, "one two three four five six seven eight nine ten " * 40),
    (6, "the quick brown fox jumps over the lazy dog"),  # dup text
    (7, "  leading and   irregular   whitespace\t\ttabs  "),
]


def _fold_signature(shingles, num_perm):
    """The retired r3-r5 JVM fold, verbatim — the differential oracle."""
    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    long_max = F.lit(9223372036854775807).cast("long")
    folded = F.aggregate(
        shingles,
        F.array_repeat(long_max, num_perm),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(x, i)),
            lambda a, b: F.least(a, b),
        ),
    )
    return F.when(F.size(shingles) > 0, folded).otherwise(
        F.array_repeat(F.lit(None).cast("long"), num_perm)
    )


def _explode_sigs(df, num_perm, shingle_words):
    """The retired r6 explode+partial-min form, verbatim."""
    ex = df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_shingles(F.col("text"), shingle_words)).alias("sh"),
    )
    mins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return (
        ex.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig"),
        )
    )


def test_kernel_matches_fold_expression(spark):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    for num_perm in (8, 64):
        sh = word_shingles(F.col("text"), 3)
        got = df.select(
            "doc_id",
            minhash_signature(sh, num_perm).alias("new"),
            _fold_signature(sh, num_perm).alias("old"),
        ).collect()
        assert len(got) == len(TEXTS)
        for r in got:
            assert (list(r["new"]) if r["new"] is not None else None) == (
                list(r["old"]) if r["old"] is not None else None
            ), f"doc {r['doc_id']} num_perm={num_perm}"


def test_kernel_handles_null_array_elements(spark):
    # xxhash64(NULL, i) leaves the running hash at the seed (42); the
    # factored form must agree because xxhash64(NULL) == 42 too
    df = spark.createDataFrame([(1,)], "id long").select(
        "id",
        F.array(
            F.lit("x"), F.lit(None).cast("string"), F.lit("y")
        ).alias("sh"),
    )
    got = df.select(
        minhash_signature(F.col("sh"), 16).alias("new"),
        _fold_signature(F.col("sh"), 16).alias("old"),
    ).first()
    assert list(got["new"]) == list(got["old"])


def test_minhash_sigs_matches_explode_form(spark):
    # includes a duplicate id (docs 10 share id) — the per-id fold must
    # reproduce the explode form's union-of-shingles signature exactly
    rows = [(i % 7 if i != 7 else 5, t) for i, (_, t) in enumerate(TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = {
        r["id"]: list(r["sig"])
        for r in _minhash_sigs(df, "text", "doc_id", 32, 3).collect()
    }
    old = {
        r["id"]: list(r["sig"])
        for r in _explode_sigs(df, 32, 3).collect()
    }
    assert new == old
    # and the unique-ids fast path agrees wherever ids are unique
    uniq_df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    uniq = {
        r["id"]: list(r["sig"])
        for r in _minhash_sigs(
            uniq_df, "text", "doc_id", 32, 3, unique_ids=True
        ).collect()
    }
    grouped = {
        r["id"]: list(r["sig"])
        for r in _minhash_sigs(uniq_df, "text", "doc_id", 32, 3).collect()
    }
    assert uniq == grouped


def test_minhash_sigs_carry_columns(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta", 10), (1, None, 20), (2, "x y z w", 30)],
        "doc_id long, text string, stamp long",
    )
    got = {
        r["id"]: (list(r["sig"])[:2], r["stamp"])
        for r in _minhash_sigs(
            df, "text", "doc_id", 16, 3, carry=["stamp"]
        ).collect()
    }
    assert set(got) == {0, 2}  # NULL text drops, as in the explode form
    assert got[0][1] == 10 and got[2][1] == 30


def test_signature_rejected_inside_aggregate_and_join(spark):
    """The documented contract: a nondeterministic pandas-UDF column,
    legal in Project/Filter, rejected by the analyzer as an aggregate
    argument or in a join condition (no Spark job runs)."""
    import pytest
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame(TEXTS[:2], "doc_id long, text string")

    def sig(c):
        return minhash_signature(word_shingles(F.col(c), 2), 8)

    assert df.select(sig("text").alias("s")).filter(
        F.element_at("s", 1).isNotNull()
    ).columns == ["s"]
    with pytest.raises(AnalysisException, match="NONDETERMINISTIC"):
        df.groupBy().agg(F.max(F.element_at(sig("text"), 1)))
    a, b = df.alias("a"), df.alias("b")
    with pytest.raises(AnalysisException, match="NON_DETERMINISTIC"):
        a.join(b, F.element_at(sig("a.text"), 1)
               == F.element_at(sig("b.text"), 1))
