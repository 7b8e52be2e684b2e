"""Sampling / shuffling / slicing operators.

Reference semantics:
- ``rsample(p)`` — Bernoulli subsample (filters.py:554-562).
- ``shuffle(bufsize)`` — bounded-buffer approximate shuffle, time/pid seeded
  (filters.py:193-231); :func:`detshuffle` is its exact distributed form.
- ``detshuffle(seed, epoch)`` — deterministic shuffle (filters.py:234-245).
- ``slice`` — islice offset/limit (filters.py:564).
- ``uniform_sample(lst, k)`` — ≤k evenly spaced picks (pack/tools.py:142-153).

Scale notes: the reference's buffered shuffle is an artifact of single-pass
iterators; Spark's distributed sort-by-random-key is a strict superset. All
randomness here is ``stable_hash64(seed, key)`` — pure, retry-safe,
engine-portable (no ``rand()``: a retried task must reproduce its output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from video_data_pipeline_spark.functions.hashing import stable_hash64, stable_unit_uniform


def rsample(key: Column | str, p: float, seed: str = "rsample"):
    """Deterministic Bernoulli sample: keep row iff hash(seed, key)/2^60 < p."""

    def _op(df: DataFrame) -> DataFrame:
        return df.filter(stable_unit_uniform(key, seed) < F.lit(p))

    return _op


def detshuffle(key: Column | str, seed: str = "", epoch: int = 0):
    """Deterministic global shuffle: total order by hash(seed:epoch, key).

    Same (seed, epoch) ⇒ same order; next epoch ⇒ different order — the
    reference's detshuffle contract (tests/test_shuffles.py:31-47) without
    driver-side RNG state.
    """

    def _op(df: DataFrame) -> DataFrame:
        return df.orderBy(stable_hash64(key, f"{seed}:{epoch}:"))

    return _op


def sliced(order_by: list[str], limit: int, offset: int = 0):
    """Deterministic islice: explicit total order, then offset/limit."""

    def _op(df: DataFrame) -> DataFrame:
        out = df.orderBy(*order_by)
        if offset:
            out = out.offset(offset)
        return out.limit(limit)

    return _op


def uniform_sample_positions(rn: Column, n: Column, k: int) -> Column:
    """True iff 0-based position ``rn`` (of ``n``) is one of the ≤k evenly
    spaced picks ``{floor(i*n/k) : i<k}`` — reference ``uniform_sample``
    (pack/tools.py:142-153) as a pure predicate usable after a row_number
    window (no collect, no UDF).

    Identity: rn ∈ S  ⇔  floor(ceil(rn*k/n) * n / k) == rn  (for n > k);
    when n ≤ k every position is kept.
    """
    rnk = rn * F.lit(k)
    i = F.ceil(rnk / n)  # smallest i with floor(i*n/k) >= rn
    picked = F.floor(i * n / F.lit(k)) == rn
    return (n <= F.lit(k)) | picked


def stable_split(
    key: Column | str,
    fractions: dict[str, float],
    seed: str = "split:",
) -> Column:
    """Deterministic dataset-split assignment column: maps each row to a
    split label with probability proportional to ``fractions`` (insertion
    order defines the interval layout), keyed by ``hash(seed, key)``.

    Unlike ``DataFrame.randomSplit`` (plan-dependent, changes across
    retries/repartitions) or modulo-of-row-number (adding a row shifts
    every later row's split), the assignment is a pure function of the
    row's key — re-runs reproduce it and corpus growth never moves an
    existing row between splits. Pure Catalyst expression: codegen'd on
    the scan, no shuffle.
    """
    total = float(sum(fractions.values()))
    u = stable_unit_uniform(key, seed)
    expr = None
    acc = 0.0
    labels = list(fractions)
    for label in labels[:-1]:
        acc += fractions[label] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = F.lit(labels[-1])
    return (expr.otherwise(last) if expr is not None else last).alias("split")
