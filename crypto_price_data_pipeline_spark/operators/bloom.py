"""Bloom-filter pre-filtering as DATA ([EXT], SURVEY.md §2.11) — the
100-TB front door for benchmark-contamination scans.

The exact containment check (queries_dedup.q_contamination) joins the
corpus' exploded n-grams against the benchmark's; correct, but at 100
TB the corpus explode feeds a join. A Bloom filter built over the
benchmark's grams turns the corpus side into a PURE PROJECTION: the
bitmap travels as one broadcast row (array<long>, m/64 words — 8 KiB at
m=2¹⁶), and each doc probes its own gram array in-row with
element_at/bit ops — zero shuffle, zero explode, whole-stage codegen.
Docs with no bit-hits (the overwhelming majority) never reach the
exact join; by the Bloom no-false-negative guarantee the survivors are
a superset of the truly contaminated set, so the pre-filter is safe.

Spark's internal BloomFilter (df.stat.bloomFilter / bloom_filter_agg)
is a driver-side opaque object that an expression can't probe and that
nothing else can reproduce; building the bitmap from k seeded xxhash64
positions keeps the whole thing inside Catalyst (the same "sketch as a
DataFrame" design as operators/sketch.py's CMS) and unit-verifiable.
fpp at load f = k·n/m is ≈ (1−e^(−f))^k — size m to the benchmark
(n grams), e.g. n=10⁵ grams, m=2²⁰, k=3 → ~0.1%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _position(gram: Column, j: int, m_bits: int) -> Column:
    """j-th Bloom position of a gram: seeded xxhash64, non-negative
    mod m. The seed rides as a literal prefix so one hash family
    yields k independent positions."""
    return F.pmod(F.xxhash64(F.concat(F.lit(f"bloom{j}:"), gram)), F.lit(m_bits))


def _word_bit(word: Column, bit: Column) -> Column:
    """(word >> bit) & 1 == 1 with a COLUMN shift amount (the
    functions-API shiftright only accepts int literals)."""
    return F.call_function("shiftright", word, bit).bitwiseAND(F.lit(1)) == 1


def bloom_build(
    grams: DataFrame, gram_col: str = "gram", m_bits: int = 1 << 16, k: int = 3
) -> DataFrame:
    """ONE-row DataFrame (``words`` array<long>, m/64 entries): the
    bitmap over every gram's k positions. Build cost is one explode of
    the (small, benchmark-side) gram table and one hash-agg into ≤
    m/64 rows, assembled dense via a map lookup over a sequence."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = grams.select(
        F.explode(
            F.array(*[_position(F.col(gram_col), j, m_bits) for j in range(k)])
        ).alias("_p")
    )
    by_word = (
        pos.select(
            (F.col("_p") / 64).cast("int").alias("_w"),
            F.pmod(F.col("_p"), F.lit(64)).cast("int").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(shiftleft(1L, _b))").alias("_bits"))
    )
    n_words = m_bits // 64
    return by_word.agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_bits"))).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at("_m", i), F.lit(0).cast("long")),
        ).alias("words")
    )


def bloom_hit(
    grams_array: Column, words: Column, m_bits: int = 1 << 16, k: int = 3
) -> Column:
    """TRUE iff ANY gram in the in-row array has all k bits set —
    the doc-level pre-filter predicate. Pure codegen: element_at +
    shifts against the broadcast bitmap, no explode, no shuffle. No
    false negatives by construction; false positives pass through to
    whatever exact check follows."""

    def gram_in(g: Column) -> Column:
        hit = F.lit(True)
        for j in range(k):
            p = _position(g, j, m_bits)
            word = F.element_at(words, (p / 64).cast("int") + 1)
            hit = hit & _word_bit(word, F.pmod(p, F.lit(64)).cast("int"))
        return hit

    return F.exists(grams_array, gram_in)
