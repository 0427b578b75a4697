"""Distributed Bloom filter from public DataFrame primitives.

Spark's own bloom machinery is inaccessible from PySpark classic: the
``BloomFilterAggregate`` / ``BloomFilterMightContain`` expressions
(runtime-filter work, SPARK-32268) are not registered in the public
function registry (``bloom_filter_agg`` raises UNRESOLVED_ROUTINE), and
``DataFrameStatFunctions.bloomFilter`` is Scala/Connect-only. So this
builds the identical structure from primitives that ARE public:

  build:  k hash positions per key via ``xxhash64(key, i)`` (the i-th
          probe re-seeds by hashing the key together with the literal
          ``i`` — the same multi-hash construction the double-hashing
          literature uses), exploded and ``bit_or``-aggregated into a
          fixed-size int64 bitmap. The aggregation is fully
          distributed and its output is AT MOST ``num_bits/64`` rows —
          the driver ``collect()`` is bloom-sized, never corpus-sized.
          That is the whole point versus shipping the key set itself:
          the bitmap's size is chosen up front (bits/key), 2 bytes per
          key at the default where a raw md5 digest takes 16.

  probe:  the bitmap embeds in the plan as an ``array<bigint>`` literal
          and the probe is pure codegen (``element_at`` + ``shiftleft``
          + bitwise AND): zero Python in the hot path.

A Bloom filter answers "definitely absent" / "maybe present"; callers
MUST exact-verify positives (see ``streaming/events.py``'s dedup gate,
which joins only bloom-positive rows against the real index).

The bitmap is corpus-COUNT-proportional (``BITS_PER_KEY × n_keys``
bits, 2 bytes/key at the default 16 bits/key), lives on the driver and
ships with every task as a plan literal. The fixtures' gates hold at
most ~2k words (5 000 docs × 16 bits × 1.5); bitmaps past a few
thousand words (about 32 KiB) are not a supported workload.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS_PER_KEY = 16  # default sizing: ~0.2% fpp at k=7
DEFAULT_K = 7


class BloomFilter:
    """Driver-held bitmap: ``words[i]`` bit ``j`` = bloom bit ``64*i+j``.

    ``merge_from`` is the driver-side bitmap OR — blooms over the same
    (num_bits, k) universe are mergeable by construction (the bit
    positions of a key do not depend on what else is in the filter),
    which is what lets a streaming ingest loop fold each batch's
    admitted keys into a live gate without rebuilding it. Probes built
    AFTER a merge see the new bits; plans built before keep the literal
    they embedded (each micro-batch gates against the bits as of its
    start)."""

    __slots__ = ("words", "num_bits", "k")

    def __init__(self, words: np.ndarray, num_bits: int, k: int):
        self.words = words  # int64[ceil(num_bits / 64)]
        self.num_bits = num_bits
        self.k = k

    def saturated(self) -> bool:
        """True iff every one of ``num_bits`` bits is set — then probes
        return True for EVERY key, which tests use to force the
        false-positive path deterministically."""
        full = np.full_like(self.words, -1)
        if self.num_bits % 64 == 0:
            return bool((self.words == full).all())
        tail = (np.int64(1) << np.int64(self.num_bits % 64)) - 1
        return bool((self.words[:-1] == full[:-1]).all()
                    and (self.words[-1] & tail) == tail)

    def merge_from(self, other: "BloomFilter") -> None:
        """Driver-side OR of another bloom over the SAME universe."""
        if (other.num_bits, other.k) != (self.num_bits, self.k):
            raise ValueError(
                f"bloom merge across universes: ({other.num_bits}, "
                f"{other.k}) into ({self.num_bits}, {self.k})")
        self.words = np.bitwise_or(self.words, other.words)


def _positions(col: Column, num_bits: int, k: int) -> list[Column]:
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
            for i in range(k)]


def bloom_build(df: DataFrame, col_name: str, *,
                num_bits: int | None = None, k: int = DEFAULT_K,
                n_items: int | None = None) -> BloomFilter:
    """One distributed pass over ``df[col_name]`` → driver-held bitmap.

    ``num_bits`` defaults to ``BITS_PER_KEY × count`` (rounded up to a
    word); pass it explicitly when the cardinality is already known to
    skip the sizing count, or pass ``n_items``.
    """
    if num_bits is None:
        n = n_items if n_items is not None else df.count()
        num_bits = max(64, BITS_PER_KEY * n)
    num_bits = ((num_bits + 63) // 64) * 64 if num_bits > 64 else num_bits
    col = F.col(col_name)
    pos = F.explode(F.array(*_positions(col, num_bits, k))).alias("pos")
    rows = (df.select(pos)
            .select(F.shiftright("pos", 6).cast("int").alias("w"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("bigint"),
                        F.pmod("pos", F.lit(64)).cast("int")).alias("m"))
            .groupBy("w").agg(F.bit_or("m").alias("bits"))
            .collect())
    words = np.zeros((num_bits + 63) // 64, dtype=np.int64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return BloomFilter(words=words, num_bits=num_bits, k=k)


def bloom_might_contain(bloom: BloomFilter, col: Column) -> Column:
    """Boolean probe column for ``col`` against ``bloom`` (False ⇒ key
    definitely absent), as one codegen expression over the plan
    literal."""
    # ONE parsed SQL literal, not F.lit(list): PySpark expands
    # lit([...]) into one Py4J lit() round-trip PER ELEMENT plus a
    # CreateArray — ~1.9 s of pure driver latency at the gate's 1.5k
    # words (measured r14; the parser path is ~7 ms). Both
    # constant-fold to the identical array<bigint> literal, so the
    # probe expression and every value are unchanged.
    words_lit = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in bloom.words) + ")")
    hit = None
    for pos in _positions(col, bloom.num_bits, bloom.k):
        word = F.element_at(
            words_lit, F.shiftright(pos, 6).cast("int") + F.lit(1))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"),
            F.pmod(pos, F.lit(64)).cast("int"))
        term = word.bitwiseAND(mask) != F.lit(0)
        hit = term if hit is None else hit & term
    return hit
