"""Windowed sketch aggregation — tumbling and sliding event-time windows.

Capability parity: the reference's sliding-window rate limiter
(pkg/ratelimit/sliding_window.go:50-86) counts events in fixed windows
with weighted overlap; its batch/pubsub machinery (SURVEY.md §2.3) is the
micro-batching substrate.  Here the same semantics ride Spark event-time
windows, and the *sketch* variants answer per-window distinct/frequency/
quantile questions with mergeable state:

- tumbling: window_start = floor(ts / width) — a plain derived column, so
  the two-level sketch aggregation applies unchanged with
  (window_start, *keys) as the grouping key;
- sliding: each row belongs to width/slide windows; the row is exploded
  to its windows JVM-side (sequence + transform, whole-stage codegen)
  and then reduced exactly like tumbling.  Sketch states still merge
  associatively within each window.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from gopie_spark.operators.sketch_agg import merge_partials, sketch_agg


def _tumbling_start(ts_col: str, width_s: int) -> Column:
    # floor, not cast-truncation: for pre-epoch (negative) timestamps
    # truncation rounds TOWARD zero and mis-aligns the bucket by one
    # width; identical for epoch >= 0
    epoch = F.unix_timestamp(F.col(ts_col))
    return F.timestamp_seconds(
        F.floor(epoch / width_s).cast("long") * width_s)


def windowed_sketch_agg(df: DataFrame, ts_col: str, value_col: str, sketch,
                        width_s: int, slide_s: Optional[int] = None,
                        keys: Sequence[str] = (),
                        out_window_col: str = "window_start",
                        engine: str = "auto") -> DataFrame:
    """DataFrame[window_start, keys..., sketch_state] over event-time
    windows of ``width_s`` seconds (sliding every ``slide_s`` if given).

    Sliding engines (``width_s`` must be a multiple of ``slide_s``
    either way).  For register/additive kernels (HLL, CMS, DDSketch)
    states are byte-identical between them — gated in tests — because
    both reduce to the same per-register merges.  Order-sensitive
    kernels (TDigest, KLL) merge the same items in a different order,
    so their states differ while each engine's quantiles stay within
    the kernel's rank error (also gated):

    - ``"panes"``: pane-based composition ("no pane, no gain") — ONE
      tumbling build at ``slide_s`` resolution hashes each event once,
      then each pane STATE explodes to its ``width_s/slide_s`` covering
      windows and the per-window states merge associatively.  Map-side
      build work shrinks by the width/slide factor vs exploding rows,
      at the price of a second (window-count-bounded) state-blob merge
      stage.
    - ``"explode"``: each ROW explodes to its member windows before
      aggregation — the arbitrary-composition reference semantics the
      pane tier must match (and the shape streaming micro-batches
      reuse).
    - ``"auto"``: panes when ``width_s/slide_s >= 8``, else explode.
      Measured at sf0.1 local[32] (HLL p=14, ~2.9k windows): r=4
      explode 2.2 s vs panes 3.3 s (per-group merge overhead dominates
      the saved hashing), r=8 break-even, r=32 panes 2.9 s vs explode
      4.7 s — and the pane advantage grows with rows-per-pane, so at
      corpus scale the crossover moves LEFT, never right (the merge
      stage is bounded by window count, the saved build work is linear
      in rows x overlap).

    For SUFFIX windows ([cutoff, now] with query-time cutoffs) prefer
    ``operators.sliding_hll_build`` (kernels/slidinghll.py): one
    un-exploded pass, any cutoff after the fact.  Bounded sliding
    windows cannot ride it — interior windows need ranks the suffix
    frontier legitimately prunes — which is why this build-time tier
    exists at all.

    State sizing at scale: total sketch state is
    ``n_windows x n_key_combos x state_bytes`` — with HLL p=14 (16 KB)
    and a year of hourly windows x 100 keys that is ~14 GB spread over
    the shuffle, fine; with millions of fine-grained windows prefer a
    smaller ``p`` (p=12 -> 4 KB, std err 1.6%) or coarser windows and
    merge states downstream (register-max union means coarse windows
    are recoverable from fine ones, never the reverse).  States stay
    distributed — nothing here collects to the driver."""
    keys = list(keys)
    if engine not in ("auto", "panes", "explode"):
        raise ValueError(f"unknown engine {engine!r}")
    if slide_s is None or slide_s == width_s:
        windowed = df.withColumn(out_window_col,
                                 _tumbling_start(ts_col, width_s))
        return sketch_agg(windowed, [out_window_col] + keys, value_col,
                          sketch)
    if width_s % slide_s:
        raise ValueError("width_s must be a multiple of slide_s")
    if engine == "auto":
        engine = "panes" if width_s // slide_s >= 8 else "explode"
    if engine == "explode":
        # floor-division window indexes (matches _tumbling_start's pane
        # grid exactly, including pre-epoch timestamps — the engines'
        # byte-identity depends on it); rows with a null timestamp drop
        # here via explode(null), and the pane engine filters them to
        # match
        epoch = F.unix_timestamp(F.col(ts_col))
        first = F.floor((epoch - width_s + slide_s) / slide_s) \
            .cast("long")
        starts = F.transform(
            F.sequence(first, F.floor(epoch / slide_s).cast("long")),
            lambda i: F.timestamp_seconds(i * slide_s))
        windowed = df.withColumn(out_window_col, F.explode(starts))
        return sketch_agg(windowed, [out_window_col] + keys, value_col,
                          sketch)
    # pane-based: tumbling panes at slide resolution, then state-level
    # composition — window [W, W+width) covers pane [P, P+slide) for
    # W in {P - i*slide : 0 <= i < width/slide}.  Null timestamps are
    # dropped to match the explode engine (which loses them inside
    # explode(null)); without the filter they would form a null pane
    # whose state merges r-fold into a null window — wrong shape AND,
    # for additive sketches, r x the true counts.
    r = width_s // slide_s
    panes = sketch_agg(
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("_pane", _tumbling_start(ts_col, slide_s)),
        ["_pane"] + keys, value_col, sketch)
    pane_epoch = F.unix_timestamp("_pane")
    wins = F.transform(
        F.sequence(F.lit(0), F.lit(r - 1)),
        lambda i: F.timestamp_seconds(pane_epoch - i * slide_s))
    exploded = panes.withColumn(out_window_col, F.explode(wins)) \
        .drop("_pane")
    return merge_partials(exploded, [out_window_col] + keys, sketch)


def sliding_window_counts(df: DataFrame, ts_col: str,
                          width_s: int, slide_s: int,
                          keys: Sequence[str] = ()) -> DataFrame:
    """Exact sliding-window event counts (the sliding_window.go analog),
    pure built-ins: explode to member windows, then hash aggregate."""
    keys = list(keys)
    epoch = F.unix_timestamp(F.col(ts_col))
    first = F.floor((epoch - width_s + slide_s) / slide_s).cast("long")
    starts = F.transform(
        F.sequence(first, F.floor(epoch / slide_s).cast("long")),
        lambda i: F.timestamp_seconds(i * slide_s))
    return (df.withColumn("window_start", F.explode(starts))
            .groupBy("window_start", *keys)
            .agg(F.count("*").alias("n")))
