"""Hand-checked tests for the exact-anchor oracle, plus parity with the
engine's own tokenizers (a mismatch there would make the benchmark's
output checks report correct output as wrong).

    python -m pytest perfbench/tests -q
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import oracle  # noqa: E402

TEXTS = ["a b  a", " lead trail ", "tab\tsep\nnl", "", "   ", "\tx",
         "x\x0by", "r&d it's r&d"]


def test_cms_tokens_hand_checked():
    got = oracle.cms_tokens(TEXTS)
    assert got == {"a": 2, "b": 1, "lead": 1, "trail": 1, "tab": 1,
                   "sep": 1, "nl": 1, "x": 1, "x\x0by": 1, "r&d": 2,
                   "it's": 1}


def test_spark_tokens_split_on_vertical_tab():
    got = oracle.spark_tokens(TEXTS)
    assert got["x"] == 2 and got["y"] == 1 and "x\x0by" not in got


def test_token_count_hand_checked():
    # Spark's trim strips spaces only, so "\tx" keeps its leading run
    assert oracle.token_count(TEXTS).tolist() == [3, 2, 3, 0, 0, 2, 2, 3]


def test_binomial_upper_hand_checked():
    # P(X >= 9 | n=10, p=.5) = 11/1024 <= .05 < P(X >= 8) = 56/1024
    assert oracle.binomial_upper(10, 0.5, 0.05) == 8
    # P(X >= 4 | n=5, p=.01) ~ 4.9e-8 <= 1e-6 < P(X >= 3) ~ 9.8e-6
    assert oracle.binomial_upper(5, 0.01, 1e-6) == 3
    assert oracle.binomial_upper(0, 0.3) == 0
    assert oracle.binomial_upper(100, 0.0) == 0
    assert oracle.binomial_upper(7, 1.0) == 7


def test_binomial_upper_is_a_tail_bound():
    rng = np.random.default_rng(0)
    c = oracle.binomial_upper(2000, 0.01, 1e-3)
    draws = rng.binomial(2000, 0.01, size=20000)
    assert np.mean(draws > c) <= 2e-3
    assert np.mean(draws > c - 3) > 1e-3   # not absurdly loose


def test_check_cms():
    ok, _ = oracle.check_cms(np.array([5, 3, 9]), np.array([5, 2, 9]),
                             eps_n=2.0, delta=0.99)
    assert ok
    ok, detail = oracle.check_cms(np.array([4, 3]), np.array([5, 3]),
                                  eps_n=2.0, delta=0.99)
    assert not ok and "1 undercounts" in detail
    # 3 of 3 tokens above eps*N: more than 1% of 3 can explain
    ok, _ = oracle.check_cms(np.array([9, 9, 9]), np.array([1, 1, 1]),
                             eps_n=2.0, delta=0.99)
    assert not ok


def test_rank_interval_and_kll_with_ties():
    vals = np.array([1, 2, 2, 2, 3], dtype=float)
    assert oracle.rank_interval(np.sort(vals), 2.0) == (0.2, 0.8)
    ok, _ = oracle.check_kll({0.5: 2.0, 0.1: 1.0}, vals, eps=0.0)
    assert ok
    ok, _ = oracle.check_kll({0.9: 1.0, 0.95: 1.0, 0.99: 1.0, 0.05: 3.0},
                             vals, eps=0.05)
    assert not ok


def test_check_misra_gries():
    exact = {"a": 10, "b": 6, "c": 1}
    assert oracle.check_misra_gries({"a": 8, "b": 5}, exact, 2)[0]
    assert not oracle.check_misra_gries({"a": 11}, exact, 2)[0]  # over
    assert not oracle.check_misra_gries({"a": 10}, exact, 2)[0]  # b lost


def test_check_hll():
    assert oracle.check_hll([(1010, 1000, 0.03), (99, 100, 0.03)])[0]
    assert not oracle.check_hll([(1100, 1000, 0.03)] * 3)[0]


def test_fpr_and_false_negative():
    assert oracle.check_fpr(1, 1000, 0.001)[0]
    assert not oracle.check_fpr(50, 1000, 0.001)[0]
    assert oracle.check_no_false_negative({"u": True})[0]
    assert not oracle.check_no_false_negative({"u": True, "v": False})[0]


def test_parity_with_cms_kernel_tokenizer():
    """The CMS build's in-batch tokenizer, run without Spark."""
    from gopie_spark.kernels import CMS
    from gopie_spark.operators.sketch_agg import PreAggCMS
    cms = CMS(width=1 << 16, depth=5)
    pre = PreAggCMS(cms, tokenize=True)
    st = pre.update(pre.zero(), pa.array(TEXTS))
    want = oracle.cms_tokens(TEXTS)
    assert cms.count(st) == sum(want.values())
    assert cms.estimate(st, list(want)).tolist() == list(want.values())


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from gopie_spark.plans import get_spark
    s = get_spark("perfbench-tests", cores=1, shuffle_partitions=1,
                  extra={"spark.ui.showConsoleProgress": "false",
                         "spark.driver.memory": "1g",
                         "spark.driver.extraJavaOptions": "-Xms1g"})
    yield s
    s.stop()


def test_parity_with_engine_token_count_and_wordcount(spark):
    from pyspark.sql import functions as F
    from gopie_spark.operators.textstats import token_count
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [r[0] for r in df.select(token_count("text")).collect()]
    assert got == oracle.token_count(TEXTS).tolist()
    # the drift tier's JVM wordcount (tokens_sketch_build_multi)
    rows = (df.select(F.explode(F.split(F.col("text"), r"\s+")).alias("t"))
            .filter(F.col("t") != "").groupBy("t").count().collect())
    assert {r["t"]: r["count"] for r in rows} == oracle.spark_tokens(TEXTS)
