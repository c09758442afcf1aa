"""Regimes of candidate_pairs_from_buckets: all-pairs among reps, star
around the min rep, and the identical-payload value collapse."""

from __future__ import annotations

import random

import pandas as pd

from deduplication_and_compression_spark.config import DedupConfig
from deduplication_and_compression_spark.operators.minhash_lsh import (
    candidate_pairs_from_buckets,
)
from tests.conftest import pairs_set


CFG = DedupConfig(hot_bucket_threshold=1)
HOT = 16  # 16 * hot_bucket_threshold distinct values per bucket


def _bucket_df(spark, sizes: dict[int, int]):
    """Buckets of distinct payloads: sizes = {band_hash: member count}."""
    rows = []
    for key, k in sizes.items():
        for i in range(k):
            rows.append((f"k{key:02d}_m{i:03d}", 0, key, key * 1000 + i))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_idx", "band_hash", "_vhash"])
    )


def _expected_all_pairs(sizes, key):
    ids = sorted(f"k{key:02d}_m{i:03d}" for i in range(sizes[key]))
    return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}


def test_small_bucket_all_pairs(spark):
    sizes = {1: 3}
    got = pairs_set(candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas())
    assert got == _expected_all_pairs(sizes, 1)


def test_medium_bucket_all_pairs_exactly_once(spark):
    sizes = {2: 10}  # 10 <= hot(16) → every rep is a hub
    df = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG)
    pdf = df.toPandas()
    got = pairs_set(pdf)
    assert got == _expected_all_pairs(sizes, 2)
    assert len(pdf) == len(got)  # exactly once


def test_hot_bucket_star_only(spark):
    sizes = {3: 40}  # > hot(16) → star around min id
    pdf = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas()
    hub = f"k03_m000"
    assert len(pdf) == 39
    assert (pdf["a"] == hub).all()


def test_mixed_regimes_union(spark):
    sizes = {1: 2, 2: 8, 3: 30}
    pdf = candidate_pairs_from_buckets(_bucket_df(spark, sizes), CFG).toPandas()
    got = pairs_set(pdf)
    expect = (
        _expected_all_pairs(sizes, 1)
        | _expected_all_pairs(sizes, 2)
        | {(f"k03_m000", f"k03_m{i:03d}") for i in range(1, 30)}
    )
    assert got == expect


# ---- value collapse (val_col): hot buckets of duplicate payloads stay exact


def _valued_bucket_df(spark, members: list[tuple[str, int]], col: str = "_vhash"):
    """One bucket; members = [(id, payload_value), ...]."""
    rows = [(mid, 0, 99, v) for mid, v in members]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_idx", "band_hash", col])
    )


def test_hot_bucket_identical_values_star_around_value_rep(spark):
    """40 members > hot(16), all the SAME payload: collapse to one rep,
    emit exactly the 39 distance-0 star edges (verify can never sever
    them — the exact-dup-flood case from ADVICE r1)."""
    members = [(f"m{i:03d}", 7) for i in range(40)]
    pdf = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members), CFG, val_col="_vhash"
    ).toPandas()
    assert len(pdf) == 39
    assert (pdf["a"] == "m000").all()


def test_hot_bucket_few_distinct_values_is_exact(spark):
    """40 members, 5 distinct payloads (8 each): the 5 reps (≤ hot)
    get ALL-PAIRS, members get distance-0 star edges to their value
    rep — full connectivity, and every rep-rep pair present so
    cross-value true pairs survive any verifier."""
    members = [(f"m{i:03d}", i % 5) for i in range(40)]
    pdf = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members), CFG, val_col="_vhash"
    ).toPandas()
    got = pairs_set(pdf)
    reps = [f"m{v:03d}" for v in range(5)]  # min id per value group
    rep_pairs = {(a, b) for i, a in enumerate(sorted(reps)) for b in sorted(reps)[i + 1:]}
    intra = {
        (f"m{i % 5:03d}", f"m{i:03d}") for i in range(5, 40)
    }
    assert got == rep_pairs | intra
    # union-find connectivity: everything reachable from m000's component
    parent = {m: m for m, _ in members}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in got:
        parent[find(a)] = find(b)
    assert len({find(m) for m, _ in members}) == 1


def test_val_col_defaults_to_vhash(spark):
    """Without ``val_col`` the collapse groups on ``_vhash``; a named
    payload column collapses the same way."""
    members = [(f"m{i:03d}", 7) for i in range(40)]
    default = candidate_pairs_from_buckets(_valued_bucket_df(spark, members), CFG)
    named = candidate_pairs_from_buckets(
        _valued_bucket_df(spark, members, col="phash"), CFG, val_col="phash"
    )
    expect = {("m000", f"m{i:03d}") for i in range(1, 40)}
    assert pairs_set(default.toPandas()) == expect
    assert pairs_set(named.toPandas()) == expect


def _contract_pairs(rows, hot):
    """Pure-Python statement of the generator contract: per bucket,
    identical payloads star around their min id; the distinct-payload
    reps pair all-to-all when there are ≤ hot of them, else star
    around the min rep; pairs are (a<b) and deduplicated across
    buckets."""
    buckets: dict[tuple[int, int], dict[int, list[int]]] = {}
    for mid, band, bh, v in rows:
        buckets.setdefault((band, bh), {}).setdefault(v, []).append(mid)
    out = set()
    for groups in buckets.values():
        reps = sorted(min(ids) for ids in groups.values())
        for ids in groups.values():
            out |= {(min(ids), m) for m in ids if m != min(ids)}
        if len(reps) <= hot:
            out |= {(a, b) for i, a in enumerate(reps) for b in reps[i + 1:]}
        else:
            out |= {(reps[0], r) for r in reps[1:]}
    return out


def test_randomized_matches_python_contract(spark):
    """Several bands over one id population, so pairs recur across
    buckets; bucket sizes straddle hot and payloads are all distinct,
    all identical, or a few repeated values."""
    rng = random.Random(2)
    rows = []
    for band in range(3):
        for bh, k in enumerate([2, 5, 12, HOT, HOT + 1, 40, 3]):
            ids = rng.sample(range(60), k)
            vals = [
                list(range(k)),  # all distinct
                [0] * k,  # one identical-payload flood
                [rng.randrange(4) for _ in ids],  # a few repeated values
            ][(band + bh) % 3]
            rows += [(i, band, bh, v) for i, v in zip(ids, vals)]
    table = pd.DataFrame(rows, columns=["id", "band_idx", "band_hash", "_vhash"])
    n_vals = table.groupby(["band_idx", "band_hash"])["_vhash"].nunique()
    assert n_vals.max() > HOT and n_vals.min() == 1  # both regimes + floods
    pdf = candidate_pairs_from_buckets(spark.createDataFrame(table), CFG).toPandas()
    got = set(zip(pdf["a"], pdf["b"]))
    assert len(pdf) == len(got)  # each pair once across bands
    assert got == _contract_pairs(rows, HOT)
