"""``operators.mixing.round_robin``: the reference ``RoundRobin``
(mix.py:16-51) as a tagged union.

Spark rows carry no interleave order, so the operator keeps each source's
rows in their own order and tags them with ``source_col``; ordering the
union by (position within its source, source) then recovers the
round-robin sequence a0, b0, c0, a1, b1, c1, ...
"""

from __future__ import annotations

from video_data_pipeline_spark.operators.mixing import round_robin


def _sources(spark, sizes):
    return [
        spark.createDataFrame([(name, i) for i in range(n)], "name string, i int").coalesce(1)
        for name, n in zip("abc", sizes)
    ]


def _interleaved(df):
    return [(r["name"], r["i"]) for r in df.orderBy("i", "src").collect()]


def test_round_robin_stops_at_shortest(spark):
    """``longest=False`` keeps the first ``min`` rows of every source, so
    the interleave stops once the shortest source is drained."""
    out = round_robin(*_sources(spark, [5, 2, 3]), source_col="src")
    assert out.count() == 3 * 2
    assert _interleaved(out) == [("a", 0), ("b", 0), ("c", 0), ("a", 1), ("b", 1), ("c", 1)]
    assert {r["name"]: r["src"] for r in out.collect()} == {"a": 0, "b": 1, "c": 2}


def test_round_robin_longest_drains_every_source(spark):
    """``longest=True`` keeps every row of every source; once a source is
    drained the interleave goes on over the others."""
    out = round_robin(*_sources(spark, [5, 2, 3]), longest=True, source_col="src")
    assert out.count() == 5 + 2 + 3
    assert _interleaved(out) == [
        ("a", 0), ("b", 0), ("c", 0),
        ("a", 1), ("b", 1), ("c", 1),
        ("a", 2), ("c", 2),
        ("a", 3),
        ("a", 4),
    ]
