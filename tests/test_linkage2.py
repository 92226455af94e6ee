"""Exactness pin for positional deletion-neighborhood fuzzy matching
(operators/linkage.deletion_neighborhood_pairs): the oracle gate checks
the exact join against a verify-based SQL form, and these tests check it
against literal brute-force edit distance ≤ 1 — over a real sample, over
random strings with letter runs, and on hand-made edge cases."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from youtube_etl_project_spark.operators.linkage import (
    deletion_neighborhood_pairs,
)


def _pairs(spark, names):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "k long, nm string"
    )
    got = deletion_neighborhood_pairs(df, "k", "nm").collect()
    return {(r.ka, r.kb) for r in got}


def test_edge_cases_each_edit_kind(spark):
    names = [
        "abcdef",  # 0
        "abXdef",  # 1: substitution of 0     -> pair (0,1)
        "abcdefg",  # 2: insertion on 0       -> pair (0,2)
        "bcdef",  # 3: deletion of 0          -> pair (0,3)
        "abcdef",  # 4: exact duplicate of 0  -> pair (0,4)
        "bacdef",  # 5: transposition of 0 = distance 2 -> NO pair with 0
        "XYcdef",  # 6: two substitutions = distance 2  -> NO pair with 0
    ]
    got = _pairs(spark, names)
    assert {(0, 1), (0, 2), (0, 3), (0, 4)} <= got
    assert (0, 5) not in got and (0, 6) not in got


def test_coinciding_deletions_yield_one_pair_row(spark):
    # 'aab' deletes to 'ab' two ways; 'ab' matches via identity too —
    # exactly ONE pair row must come out
    df = spark.createDataFrame([(1, "aab"), (2, "ab")], "k long, nm string")
    rows = deletion_neighborhood_pairs(df, "k", "nm").collect()
    assert len(rows) == 1 and (rows[0].ka, rows[0].kb) == (1, 2)


def test_matches_brute_force_on_fixture_sample(spark):
    # literal O(n^2) truth over 300 real customer names == the blocked plan
    cust = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select("c_custkey", "c_name")
        .limit(300)
    )
    blocked = {
        (r.ka, r.kb)
        for r in deletion_neighborhood_pairs(
            cust, "c_custkey", "c_name"
        ).collect()
    }
    a = cust.select(
        F.col("c_custkey").alias("ka"), F.col("c_name").alias("na")
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"), F.col("c_name").alias("nb")
    )
    brute = {
        (r.ka, r.kb)
        for r in a.crossJoin(b)
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("na", "nb") <= 1)
        .collect()
    }
    assert blocked == brute
    assert len(brute) > 0  # the sample genuinely exercises the matcher


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_exact_pairs_match_brute_force_on_runs(spark):
    # short strings over {a, b}: letter runs, equal names and 1-char names
    rng = random.Random(7)
    names = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 5)))
        for _ in range(300)
    ]
    # key 300 has two names; it matches with its min name, "ab"
    rows = [(i, n) for i, n in enumerate(names)] + [(300, "bbbb"), (300, "ab")]
    df = spark.createDataFrame(rows, "k long, nm string")
    got = [
        (r.ka, r.kb)
        for r in deletion_neighborhood_pairs(df, "k", "nm").collect()
    ]
    by_key = dict(enumerate(names)) | {300: "ab"}
    want = {
        (a, b)
        for a in by_key
        for b in by_key
        if a < b and _lev(by_key[a], by_key[b]) <= 1
    }
    assert len(got) == len(set(got))  # no pair row is repeated
    assert set(got) == want
    assert {p for p in want if 300 in p}  # the two-name key takes part
