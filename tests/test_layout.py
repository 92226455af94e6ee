"""Z-order layout: the Morton-key bit arithmetic."""

import pytest
from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.layout import morton_key


def test_morton_key_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2), (3, 3), (63, 63)],
        "a long, b long",
    )
    got = [
        r.z for r in df.select(morton_key("a", "b", 6).alias("z")).collect()
    ]

    def ref(a, b):
        z = 0
        for i in range(6):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    want = [ref(a, b) for a, b in
            [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2), (3, 3), (63, 63)]]
    assert got == want


def test_zorder_key_matches_registered_oracle_semantics(spark):
    # The registered query's % folding keeps the key total-width fixed.
    df = spark.createDataFrame([(1025, 3.7), (5, 1024.2)], "u long, v double")
    z = df.select(
        morton_key(F.col("u") % 1024,
                   F.floor(F.col("v")).cast("long") % 1024, 10).alias("z")
    ).collect()
    # 1025 % 1024 = 1 → bit0 at pos0; floor(3.7)=3 → bits at pos 1,3
    assert z[0].z == (1 << 0) + (1 << 1) + (1 << 3)
    # 5 → pos 0,4 ; floor(1024.2) % 1024 = 0
    assert z[1].z == (1 << 0) + (1 << 4)


@pytest.mark.parametrize("bits", [4, 10, 16])
def test_morton_key_is_invertible_over_domain(spark, bits):
    # Distinct (a, b) → distinct z over the full bits-domain sample.
    n = 1 << min(bits, 6)
    rows = [(a, b) for a in range(0, n, max(1, n // 8))
            for b in range(0, n, max(1, n // 8))]
    df = spark.createDataFrame(rows, "a long, b long")
    assert (
        df.select(morton_key("a", "b", bits).alias("z")).distinct().count()
        == len(rows)
    )
