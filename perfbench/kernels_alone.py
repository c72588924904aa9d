"""Layer (a): the NumPy sketch kernels alone — no Spark, one core.

Each kernel updates one partial state per fixed Arrow batch cut from the
workload's own pages, then the partials are merged and the result is
serialized.  The input each kernel sees is prepared outside the timers
the way its operator prepares it (urls as an Arrow string array, tokens
pre-counted per batch, token counts as doubles, shingle hashes per
document).  Every figure is the median of ``REPEATS`` passes.
"""
from __future__ import annotations

import statistics
import time
from typing import Callable, Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from oracle import token_count

KERNELS = ["hll", "cms", "bloom", "kll", "theta", "misragries",
           "countsketch", "minhash"]
MAX_ROWS = 4000
N_BATCHES = 4
REPEATS = 3


def _token_counts(texts: pa.Array):
    toks = pc.list_flatten(pc.split_pattern_regex(texts, r"\s+"))
    vc = toks.filter(pc.not_equal(toks, "")).value_counts()
    return vc.field("values"), vc.field("counts").to_numpy().astype(
        np.uint64)


def _shingles(texts: pa.Array):
    from gopie_spark.kernels.hashes import fnv1_64_values
    from gopie_spark.kernels.minhash import shingle_hashes_flat
    lists = pc.split_pattern_regex(texts, r"\s+")
    flat = pc.list_flatten(lists)
    lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    doc = np.repeat(np.arange(len(texts)), lens)
    h = fnv1_64_values(flat)[keep]
    ne = np.bincount(doc[keep], minlength=len(texts)).astype(np.int64)
    return shingle_hashes_flat(h, ne, 3)


def _specs(n_rows: int) -> Dict[str, dict]:
    from gopie_spark.kernels import (CMS, HLL, KLL, BloomBit, CountSketch,
                                     MinHash, MisraGries, Theta)
    mh = MinHash(k=128)
    return {
        "hll": dict(k=HLL(p=14), prep=lambda b: b["url"],
                    upd=lambda k, s, x: k.update(s, x)),
        "cms": dict(k=CMS.from_guess(0.001, 0.99),
                    prep=lambda b: _token_counts(b["text"]),
                    upd=lambda k, s, x: k.update(s, x[0], x[1])),
        "bloom": dict(k=BloomBit.from_guess(max(n_rows, 64), 0.001),
                      prep=lambda b: b["url"],
                      upd=lambda k, s, x: k.update(s, x)),
        "kll": dict(k=KLL(k=200),
                    prep=lambda b: token_count(b["text"]).astype(np.float64),
                    upd=lambda k, s, x: k.update(s, x)),
        "theta": dict(k=Theta(k=4096), prep=lambda b: b["url"],
                      upd=lambda k, s, x: k.update(s, x)),
        "misragries": dict(k=MisraGries(k=256),
                           prep=lambda b: _token_counts(b["text"]),
                           upd=lambda k, s, x: k.update(
                               s, x[0].to_numpy(zero_copy_only=False),
                               x[1].astype(np.int64))),
        "countsketch": dict(k=CountSketch(width=8192, depth=7),
                            prep=lambda b: _token_counts(b["text"]),
                            upd=lambda k, s, x: k.update(
                                s, x[0], x[1].astype(np.int64))),
        # a batch's MinHash state is the slot-wise minimum of its
        # documents' signatures; the update is the per-document build
        "minhash": dict(k=mh, prep=lambda b: _shingles(b["text"]),
                        upd=lambda k, s, x: np.minimum(
                            s, k.batch_signatures_flat(*x).min(axis=0))),
    }


def _timed(fn: Callable):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def run(pages: pa.Table) -> Dict[str, float]:
    """Per-kernel metrics named ``kernels.<k>.<metric>``."""
    n = min(pages.num_rows, MAX_ROWS)
    t = pages.slice(0, n).select(["url", "text"]).combine_chunks()
    per = -(-n // N_BATCHES)
    batches = [{c: t.column(c).chunk(0).slice(i * per, per)
                for c in ("url", "text")} for i in range(N_BATCHES)]
    specs = _specs(n)
    samples: Dict[str, List[float]] = {}

    def add(name, v):
        samples.setdefault(name, []).append(v)

    for name in KERNELS:
        sp = specs[name]
        k = sp["k"]
        inputs = [sp["prep"](b) for b in batches]
        for _ in range(REPEATS):
            states, upd = [], 0.0
            for x in inputs:
                st, dt = _timed(lambda: sp["upd"](k, k.zero(), x))
                states.append(st)
                upd += dt
            merged, dm = _timed(lambda: _merge_all(k, states))
            _, ds = _timed(lambda: k.serialize(merged))
            add(f"kernels.{name}.update_rows_per_s", n / upd)
            add(f"kernels.{name}.merge_s", dm)
            add(f"kernels.{name}.serialize_s", ds)
            if name == "bloom":
                probe = pa.concat_arrays([b["url"] for b in batches])
                _, de = _timed(lambda: k.exist(merged, probe))
                add("kernels.bloom.exist_per_s", len(probe) / de)
            elif name == "cms":
                toks = inputs[0][0]
                _, de = _timed(lambda: k.estimate(merged, toks))
                add("kernels.cms.estimate_per_s", len(toks) / de)
            elif name == "hll":
                _, dc = _timed(lambda: k.count(_merge_all(k, states)))
                add("kernels.hll.merge_count_s", dc)
    return {name: float(statistics.median(v)) for name, v in samples.items()}


def _merge_all(k, states):
    out = states[0]
    for s in states[1:]:
        out = k.merge(out, s)
    return out
