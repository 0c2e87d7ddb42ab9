"""The SQL-text vector builders: literal guards and build cost."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_server_spark.functions.vector import cosine, vec_sql


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_literal_vector_rejects_non_finite(bad):
    # a plain exception, so the guard still holds under ``python -O``
    with pytest.raises(ValueError, match="finite"):
        vec_sql([0.5, bad, 1.0])


@pytest.mark.parametrize("unroll", [False, True])
def test_cosine_over_literal_builds_in_one_parse(spark, unroll):
    """A cosine against a 64-element literal is one SQL string, parsed
    by the JVM in a handful of py4j round trips — not one round trip
    per expression node (about 15,000 for the Column-built form)."""
    vec = [((i * 37) % 64 - 31.5) / 64.0 for i in range(64)]
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counted(*a, **kw):
        nonlocal calls
        calls += 1
        return send(*a, **kw)

    client.send_command = counted
    try:
        F.expr(cosine("embedding", vec_sql(vec), unroll=unroll))
    finally:
        del client.send_command
    assert calls <= 10, calls
