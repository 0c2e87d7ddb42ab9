"""Focused tests for the round-13 optimization internals.

Each optimization that changed HOW an operator computes (never WHAT)
gets a pin here proving the new path is value-identical to the old
formulation it replaced:

- ``fan_out_scan`` (sources/loader.py): conditional round-robin
  repartition — no-op when the scan already splits, multiset-identical
  when it fans out.
- ``functions/vector.py`` dot/norm/sq_l2/cosine: the FAST_DIM
  unrolled codegen path must be BIT-identical to the interpreted fold
  it shadows (same ops, same order, same signed zeros), over column
  pairs and literal operands, including the NULL and wrong-length
  fallbacks.
- ``dedup_exact``: the struct-min aggregate must reproduce the old
  two-window survivor plan row for row (including the NULL-text group).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_server_spark.functions import vector
from mapreduce_server_spark.operators.dedup import dedup_exact
from mapreduce_server_spark.sources.loader import Tables, fan_out_scan

from .conftest import SF001


def test_fan_out_scan_fans_single_partition_scan(spark):
    one = spark.range(1000).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    fanned = fan_out_scan(one, spark)
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # multiset-identical: same ids, same count, nothing duplicated
    assert fanned.count() == 1000
    assert fanned.exceptAll(one).count() == 0
    assert one.exceptAll(fanned).count() == 0


def test_fan_out_scan_noop_when_already_split(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    assert fan_out_scan(wide, spark) is wide  # untouched, zero plan nodes
    wider = spark.range(1000).repartition(target + 3)
    assert fan_out_scan(wider, spark) is wider


#: the builders under test, each over operands (a, b) given as SQL text
BUILDERS = {
    "dot": vector.dot,
    "norm": lambda a, b, **kw: vector.norm(a, **kw),
    "sq_l2": vector.sq_l2,
    "cosine": vector.cosine,
}


@pytest.fixture(scope="module")
def inputs(spark):
    """Operand sets, each a frame plus the SQL text of two operands:

    - ``pairs``: adjacent-row 64-dim embedding pairs from the committed
      fixture — real float32 payloads;
    - ``literal``: every embedding against a literal vector (the first
      embedding, as the query-vector operators inline it);
    - ``fallback``: a wrong length, a NULL array and a NULL element,
      which must all take the fold's result (a value, NULL, NULL);
    - ``fallback_literal``: the same rows against a literal that is not
      FAST_DIM long, which the builders fold without a guard.
    """
    e = Tables(spark, SF001).embeddings.select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("ka"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("ka"), F.col("embedding").alias("eb"))
    first = e.orderBy("vec_id").first()["embedding"]
    dim = vector.FAST_DIM
    odd = spark.createDataFrame(
        [
            ([1.0] * 32, [2.0] * 32),  # not FAST_DIM
            (None, [2.0] * dim),  # NULL side
            ([None] + [1.0] * (dim - 1), [2.0] * dim),  # NULL element
        ],
        "ea: array<double>, eb: array<double>",
    )
    return {
        "pairs": (a.join(b, "ka"), "ea", "eb"),
        "literal": (e, "embedding", vector.vec_sql(first)),
        "fallback": (odd, "ea", "eb"),
        "fallback_literal": (odd, "ea", vector.vec_sql([2.0] * 32)),
    }


@pytest.mark.parametrize(
    "inp", ["pairs", "literal", "fallback", "fallback_literal"]
)
@pytest.mark.parametrize("fn", sorted(BUILDERS))
def test_unroll_bit_identical_to_fold(inputs, fn, inp):
    """The guarded FAST_DIM unroll performs the fold's double ops in the
    fold's order, so every result has the same bits (struct-packed,
    which tells -0.0 from 0.0), and the NULL cases stay NULL."""
    df, a, b = inputs[inp]
    build = BUILDERS[fn]
    rows = df.select(
        F.expr(build(a, b, unroll=True)).alias("fast"),
        F.expr(build(a, b)).alias("fold"),
    ).collect()
    assert rows
    for r in rows:
        if r.fold is None:
            assert r.fast is None
        else:
            assert struct.pack("d", r.fast) == struct.pack("d", r.fold)
    if inp.startswith("fallback"):
        assert rows[0].fold is not None
        assert rows[1].fold is None and rows[2].fold is None


def test_dedup_exact_matches_old_window_formulation(spark):
    new = dedup_exact(spark, SF001)
    d = Tables(spark, SF001).documents
    w = Window.partitionBy("text").orderBy("doc_id")
    old = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("text")))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "n_copies")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # the NULL-text rows still collapse to exactly ONE survivor group
    n_null_docs = d.where(F.col("text").isNull()).count()
    if n_null_docs:
        nulls = (
            new.join(
                d.select("doc_id", F.col("text").alias("t")), "doc_id"
            )
            .where(F.col("t").isNull())
            .collect()
        )
        assert len(nulls) == 1
        assert nulls[0].n_copies == n_null_docs
