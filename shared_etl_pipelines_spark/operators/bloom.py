"""Bloom-filter pre-filtered semi-join — the runtime-filter pattern made
explicit.

At 100 TB the expensive part of `fact SEMI JOIN dim` is shuffling the
fact side; when the dim side is selective, most shuffled fact rows are
discarded at the join. Spark's AQE injects bloom runtime filters for
some plan shapes, but not across arbitrary operator boundaries (e.g. a
pre-aggregated or unioned fact side). This operator builds the filter
explicitly:

1. dim side: k hash positions per key (xxhash64 with per-hash salt) into
   an m-bit filter, aggregated as 64-bit words via bit_or — one
   map-side-combinable pass, result is m/64 longs (BOUNDED driver
   collect: 2 KiB-2 MiB regardless of data size, like a broadcast var).
2. fact side: the words become one array literal, built in one JVM call;
   membership is k pure JVM bit tests inside whole-stage codegen — no
   shuffle, no Python.
3. survivors flow into the EXACT semi-join (bloom false positives are
   removed there; blooms have no false negatives, so the result is
   exactly the semi-join), which now shuffles only the survivors.

The m default (2^20 bits) holds ~100k keys at ~1% FP; size m to
~10 bits/key at real scale. For >10M keys skip the driver roundtrip and
use bucketed joins instead (operators/layout.py write_bucketed_table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.functions.literals import literal_array


def _positions(key: Column, n_hashes: int, m_bits: int) -> list[Column]:
    # xxhash64(key, salt): salting by a literal int column gives k
    # independent hash families without re-hashing strings k times
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(n_hashes)
    ]


def build_bloom(dim: DataFrame, key: str | Column, n_hashes: int = 5,
                m_bits: int = 1 << 20) -> list[int]:
    """Aggregate the dim side's keys into bloom words (m_bits/64 longs).

    The collect is BOUNDED at m_bits/64 rows (the filter itself), never
    data-sized — the same budget as broadcasting any runtime filter.
    Missing words (no key hashed into them) are zero.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    pos = F.explode(F.array(*_positions(key_col, n_hashes, m_bits))).alias("pos")
    words = (
        dim.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["word"]] = r["bits"]
    return arr


def bloom_might_contain(words: list[int], key: Column, n_hashes: int = 5,
                        m_bits: int = 1 << 20) -> Column:
    """Membership predicate over the broadcast words — pure JVM bit tests."""
    arr = literal_array(words, "bigint")
    cond = F.lit(True)
    for p in _positions(key, n_hashes, m_bits):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_hashes: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """`fact SEMI JOIN dim` with an explicit bloom pre-filter on fact.

    Exact result (the final semi-join removes bloom false positives);
    the bloom only reduces how many fact rows reach the shuffle.
    """
    words = build_bloom(dim, dim_key, n_hashes, m_bits)
    pre = fact.filter(
        bloom_might_contain(words, F.col(fact_key), n_hashes, m_bits)
    )
    return pre.join(
        dim.select(F.col(dim_key).alias("__bk")).distinct(),
        pre[fact_key] == F.col("__bk"),
        "left_semi",
    )
