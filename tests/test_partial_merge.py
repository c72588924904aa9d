"""Pins for the one partial/merge primitive (``build_partials`` +
``merge_partials``) that every multi-kernel, keyed and token-count
sketch build in ``operators/sketch_agg.py`` rides:

- past 64 partials the global merge goes through the sqrt(P) bucketed
  tree, and the result must be byte-equal to the one-task fold;
- ``keyed_sketch_multi``'s per-group states equal one ``sketch_agg``
  per kernel;
- every builder returns the kernel's ``zero()`` on empty input.
"""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from gopie_spark.kernels import CMS, HLL, CountSketch, MisraGries, Theta
from gopie_spark.operators.sketch_agg import (STATE_COL, build_partials,
                                              cms_build, cms_tokens_build,
                                              countsketch_tokens_build,
                                              global_sketch,
                                              global_sketch_multi,
                                              keyed_sketch_multi, sketch_agg,
                                              tokens_sketch_build,
                                              tokens_sketch_build_multi)

KERNELS = {
    "hll": lambda: HLL(p=10),
    "cms": lambda: CMS(width=512, depth=4),
    "theta": lambda: Theta(k=64),
    "countsketch": lambda: CountSketch(width=512, depth=5),
}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("u"), "text",
                    "lang"))


@contextmanager
def _wide_shuffle(spark):
    """Shuffles land in 80 partitions (no AQE coalescing), so the token
    builders' partial count passes the tree threshold."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "80")
    spark.conf.set(keys[1], "false")
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_global_tree_merge_byte_equals_single_task(spark, docs):
    sks = [make() for make in KERNELS.values()]
    wide = docs.repartition(80)
    assert build_partials(wide, [], "u", sks[0]).rdd.getNumPartitions() > 64
    narrow = docs.coalesce(4)
    want = [sk.serialize(global_sketch(narrow, "u", sk)) for sk in sks]
    assert [sk.serialize(global_sketch(wide, "u", sk)) for sk in sks] == want
    # the multi-kernel build folds through the same tree
    got = global_sketch_multi(wide, [("u", sk) for sk in sks])
    assert [sk.serialize(st) for sk, st in zip(sks, got)] == want


def test_tokens_multi_tree_merge_byte_equals_single_task(spark, docs):
    sks = [KERNELS[n]() for n in ("cms", "theta", "countsketch")]
    want = [sk.serialize(tokens_sketch_build(docs, sk, "text",
                                             counts_dtype=np.int64))
            for sk in sks]
    with _wide_shuffle(spark):
        counted = (docs.select(F.explode(F.split("text", r"\s+"))
                               .alias("tok"))
                   .filter(F.col("tok") != "")
                   .groupBy("tok").agg(F.count("*").alias("cnt")))
        assert counted.rdd.getNumPartitions() > 64
        got = tokens_sketch_build_multi(docs, sks, "text",
                                        counts_dtype=np.int64)
    assert [sk.serialize(st) for sk, st in zip(sks, got)] == want


def test_keyed_sketch_multi_byte_equals_sketch_agg(spark, docs):
    hll, theta = HLL(p=10), Theta(k=32)
    df = docs.union(docs.limit(7).withColumn("lang", F.lit(None).cast("string")))
    got = keyed_sketch_multi(df, "lang", [("u", hll), ("text", theta)])
    for col, sk, kid in (("u", hll, 0), ("text", theta, 1)):
        want = {r["lang"]: bytes(r[STATE_COL])
                for r in sketch_agg(df, ["lang"], col, sk).collect()}
        assert None in want
        assert {g: sk.serialize(sts[kid]) for g, sts in got.items()} == want


def test_empty_input_returns_zero(spark, docs):
    empty = docs.filter(F.lit(False))
    hll, theta = HLL(p=10), Theta(k=64)
    cs, mg = CountSketch(width=256, depth=3), MisraGries(k=16)

    def is_zero(sk, st):
        return sk.serialize(st) == sk.serialize(sk.zero())

    assert is_zero(hll, global_sketch(empty, "u", hll))
    assert all(is_zero(sk, st) for sk, st in zip(
        (hll, theta), global_sketch_multi(empty, [("u", hll),
                                                  ("text", theta)])))
    assert keyed_sketch_multi(empty, "lang", [("u", hll)]) == {}
    assert all(is_zero(sk, st) for sk, st in zip(
        (cs, mg), tokens_sketch_build_multi(empty, (cs, mg), "text",
                                            counts_dtype=np.int64)))
    assert is_zero(mg, tokens_sketch_build(empty, mg, "text",
                                           counts_dtype=np.int64))
    cms, st = cms_tokens_build(empty, "text")
    assert is_zero(cms, st)
    cs2, st = countsketch_tokens_build(empty, "text", width=256, depth=3)
    assert is_zero(cs2, st)
    cms, st = cms_build(empty, "lang", jvm_pre_aggregate=True)
    assert is_zero(cms, st)
