"""Exact anchors for the benchmark's output checks.

Every anchor is computed here with pyarrow and NumPy from the generated
inputs or the program's written tables, never through ``gopie_spark``.
The definitions follow the engine's own:

- ``cms_tokens``: the CMS build's tokenizer (``cms_build(tokenize=True)``):
  RE2 ``\\s+`` split, empty pieces dropped;
- ``spark_tokens``: the drift tier's JVM wordcount, ``split(text, '\\s+')``
  with Java's ``\\s`` (which, unlike RE2's, includes ``\\x0b``), empty
  pieces dropped;
- ``token_count``: ``textstats.token_count``: Spark's ``trim`` (spaces
  only), 0 for an empty string, else the number of Java ``\\s+`` runs + 1.

Probabilistic checks allow the number of violations a correct engine
reaches with probability at most ``ALPHA``, given the engine's published
per-item confidence (``binomial_upper``).
"""
from __future__ import annotations

import math
from typing import Dict, Iterable, Mapping, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ALPHA = 1e-6
RE2_WS = r"\s+"
JAVA_WS = r"[ \t\n\x0b\f\r]+"
HLL_SIGMA3_MISS = 0.0027     # two-sided 3-sigma tail
KLL_MISS = 0.01              # 2.296/k holds at 99% confidence


def _arr(texts) -> pa.Array:
    if isinstance(texts, pa.ChunkedArray):
        return texts.combine_chunks()
    if isinstance(texts, pa.Array):
        return texts
    return pa.array(list(texts), type=pa.string())


def _count(tokens: pa.Array) -> Dict[str, int]:
    tokens = tokens.filter(pc.not_equal(tokens, ""))
    vc = tokens.value_counts()
    return dict(zip(vc.field("values").to_pylist(),
                    vc.field("counts").to_pylist()))


def cms_tokens(texts) -> Dict[str, int]:
    """Exact token counts under the CMS build's tokenizer."""
    return _count(pc.list_flatten(pc.split_pattern_regex(_arr(texts),
                                                         RE2_WS)))


def spark_tokens(texts) -> Dict[str, int]:
    """Exact token counts under the drift tier's JVM wordcount."""
    return _count(pc.list_flatten(pc.split_pattern_regex(_arr(texts),
                                                         JAVA_WS)))


def token_count(texts) -> np.ndarray:
    """Per-document token count, as ``textstats.token_count``."""
    trimmed = pc.utf8_trim(_arr(texts), " ")
    runs = pc.count_substring_regex(trimmed, JAVA_WS)
    n = pc.add(runs, 1)
    return np.asarray(pc.if_else(pc.equal(pc.utf8_length(trimmed), 0),
                                 0, n).to_numpy(zero_copy_only=False),
                      dtype=np.int64)


def histogram(values) -> Dict[str, int]:
    vc = _arr(values).value_counts()
    return dict(zip(vc.field("values").to_pylist(),
                    vc.field("counts").to_pylist()))


# -- probability --------------------------------------------------------------

def binomial_upper(n: int, p: float, alpha: float = ALPHA) -> int:
    """Smallest c with P(Binomial(n, p) > c) <= alpha."""
    if n <= 0 or p <= 0.0:
        return 0
    if p >= 1.0:
        return n
    log_p, log_q = math.log(p), math.log1p(-p)
    cdf = 0.0
    for c in range(n + 1):
        cdf += math.exp(math.lgamma(n + 1) - math.lgamma(c + 1)
                        - math.lgamma(n - c + 1) + c * log_p
                        + (n - c) * log_q)
        if 1.0 - cdf <= alpha:
            return c
    return n


def rank_interval(sorted_vals: np.ndarray, v: float) -> Tuple[float, float]:
    """Normalized rank range of ``v``: share strictly below, share at or
    below (ties make a range)."""
    n = sorted_vals.size
    return (np.searchsorted(sorted_vals, v, "left") / n,
            np.searchsorted(sorted_vals, v, "right") / n)


# -- checks: each returns (ok, detail) ----------------------------------------

def check_hll(answers: Sequence[Tuple[int, int, float]]):
    """``answers``: (estimate, exact, relative 3-sigma bound) per query."""
    bad = sum(abs(est - ex) > bound * ex for est, ex, bound in answers)
    limit = binomial_upper(len(answers), HLL_SIGMA3_MISS)
    worst = max((abs(est - ex) / max(ex, 1) for est, ex, _ in answers),
                default=0.0)
    return bad <= limit, (f"{len(answers)} queries, {bad} outside 3-sigma "
                          f"(allowed {limit}), worst rel err {worst:.5f}")


def check_cms(est: np.ndarray, exact: np.ndarray, eps_n: float,
              delta: float):
    """Count-Min: no undercount at all; overcount above eps*N on at most
    the binomial share of 1-delta."""
    est, exact = np.asarray(est), np.asarray(exact)
    under = int(np.sum(est < exact))
    over = int(np.sum(est - exact > eps_n))
    limit = binomial_upper(est.size, 1.0 - delta)
    return (under == 0 and over <= limit,
            f"{est.size} tokens, {under} undercounts, {over} above "
            f"eps*N={eps_n:.1f} (allowed {limit})")


def check_no_false_negative(present: Mapping[str, bool]):
    missing = [u for u, b in present.items() if not b]
    return not missing, (f"{len(present)} inserted urls, "
                         f"{len(missing)} reported absent")


def check_fpr(false_pos: int, probes: int, p: float):
    limit = binomial_upper(probes, p)
    return false_pos <= limit, (f"{false_pos}/{probes} absent urls reported "
                                f"present (allowed {limit} at p={p:.2e})")


def check_kll(quantiles: Mapping[float, float], values: np.ndarray,
              eps: float):
    sv = np.sort(np.asarray(values, dtype=np.float64))
    bad = []
    for q, v in quantiles.items():
        lo, hi = rank_interval(sv, v)
        if q < lo - eps or q > hi + eps:
            bad.append((q, v, lo, hi))
    limit = binomial_upper(len(quantiles), KLL_MISS)
    return len(bad) <= limit, (f"{len(quantiles)} quantiles, {len(bad)} "
                               f"outside rank eps {eps:.5f} (allowed "
                               f"{limit}) {bad[:3]}")


def check_misra_gries(topk: Mapping[str, int], exact: Mapping[str, int],
                      bound: int, k: Optional[int] = None):
    """Deterministic Misra-Gries contract: every reported count is a
    lower bound within ``bound`` of the truth, and every token more
    frequent than ``bound`` is reported — or, for a top-``k`` answer cut
    at ``k`` tokens, every token more frequent than the smallest
    reported count plus ``bound``."""
    wrong = [t for t, c in topk.items()
             if not (c <= exact.get(t, 0) <= c + bound)]
    floor = min(topk.values()) if k is not None and len(topk) >= k else 0
    lost = [t for t, c in exact.items()
            if c > floor + bound and t not in topk]
    return not wrong and not lost, (
        f"{len(topk)} reported, bound {bound}, {len(wrong)} outside "
        f"[est, est+bound], {len(lost)} heavy tokens missing")


def check_equal(name: str, got, want):
    return got == want, (f"{name}: equal" if got == want
                         else f"{name}: got {got!r} want {want!r}")


def check_subset(name: str, part: Iterable, whole: Iterable):
    extra = set(part) - set(whole)
    return not extra, f"{name}: {len(extra)} not in input"
