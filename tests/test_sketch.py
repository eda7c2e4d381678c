"""Sketch operators: HLL gate, Misra-Gries heavy hitters, quantile
rank gate (operators/sketch.py). The suite-level DuckDB parity rows are
in test_oracle_parity.py; these tests pin the sketch-specific
guarantees — bounded candidate sets, eviction behavior, skew, nulls."""

import pytest
from pyspark.sql import functions as F

from vechord_spark.operators.sketch import (
    _misra_gries_partition,
    approx_distinct_gate,
    heavy_hitters,
    quantile_rank_gate,
)


def test_approx_distinct_gate_matches_exact(spark):
    df = spark.createDataFrame(
        [(g, f"u{v % (50 * (g + 1))}") for g in range(3) for v in range(2000)],
        "grp int, user string",
    )
    out = approx_distinct_gate(df, "grp", "user").orderBy("grp").collect()
    assert [r.n_exact for r in out] == [50, 100, 150]
    assert all(r.within_tol for r in out)


def test_heavy_hitters_exact_on_zipf(spark):
    # zipf-ish: value i appears 1000 // (i + 1) times
    rows = [(f"v{i}",) for i in range(200) for _ in range(1000 // (i + 1))]
    df = spark.createDataFrame(rows, "val string").repartition(8)
    got = heavy_hitters(df, "val", k=10, capacity=64).collect()
    expected = [(f"v{i}", 1000 // (i + 1)) for i in range(10)]
    assert [(r.val, r.n_occurrences) for r in got] == expected


def test_heavy_hitters_ignores_nulls_and_breaks_ties(spark):
    rows = [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 3 + [(None,)] * 10
    df = spark.createDataFrame(rows, "val string")
    got = heavy_hitters(df, "val", k=2, capacity=16).collect()
    assert [(r.val, r.n_occurrences) for r in got] == [("a", 5), ("b", 5)]


def test_space_saving_keeps_frequent_evicts_rare():
    import pandas as pd

    gen = _misra_gries_partition(capacity=3, col="v")
    # 'x' dominates; the tail rotates through the other two slots
    stream = ["x"] * 50 + list("abcdefgh") + ["x"] * 50
    (out,) = list(gen(iter([pd.DataFrame({"v": stream})])))
    assert "x" in set(out["v"])
    assert len(out) <= 3


def test_space_saving_compaction_path_retains_heavy_keys():
    # key space >> 4*capacity across several batches, so the vectorized
    # Misra-Gries compaction actually fires (the sf0.1 bench never
    # exercises it: 1.5k keys < capacity); heavy keys must survive with
    # the summary bounded at <= capacity keys
    import pandas as pd

    gen = _misra_gries_partition(capacity=32, col="v")
    batches = []
    for b in range(4):
        tail = [f"t{b}_{i}" for i in range(200)]  # 800 distinct singletons
        heavy = [f"H{j}" for j in range(5)] * 40  # 5 keys x 160 total
        batches.append(pd.DataFrame({"v": heavy + tail}))
    (out,) = list(gen(iter(batches)))
    kept = set(out["v"])
    assert {f"H{j}" for j in range(5)} <= kept
    assert len(out) <= 32


def test_heavy_hitters_exact_when_keys_exceed_capacity(spark):
    # distinct keys (600) > capacity (64): the compaction path runs and
    # the two-pass result still equals the exact top-k (the 10th count,
    # 128, clears N/capacity) — the sf1 regime that exposed the old
    # O(capacity)-per-row eviction loop
    rows = [(f"h{i}",) for i in range(10) for _ in range(128 + 10 - i)]
    rows += [(f"c{i}",) for i in range(590) for _ in range(2)]
    df = spark.createDataFrame(rows, "val string").repartition(4)
    got = heavy_hitters(df, "val", k=10, capacity=64).collect()
    expected = [(f"h{i}", 128 + 10 - i) for i in range(10)]
    assert [(r.val, r.n_occurrences) for r in got] == expected


def test_quantile_rank_gate_flags_true_and_matches_exact(spark):
    df = spark.createDataFrame([(float(i),) for i in range(10001)], "x double")
    out = quantile_rank_gate(df, "x", quantiles=(0.25, 0.5, 0.9)).collect()
    assert [r.quantile for r in out] == [0.25, 0.5, 0.9]
    assert [r.p_exact for r in out] == [2500.0, 5000.0, 9000.0]
    assert all(r.rank_ok for r in out)


def test_quantile_rank_gate_skips_nulls(spark):
    df = spark.createDataFrame(
        [(None,)] * 5 + [(float(i),) for i in range(101)], "x double"
    )
    out = quantile_rank_gate(df, "x", quantiles=(0.5,)).collect()
    assert out[0].p_exact == 50.0 and out[0].rank_ok
