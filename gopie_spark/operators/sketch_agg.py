"""Two-level mergeable sketch aggregation over Spark DataFrames.

This is the engine's replacement for the reference's serial
``New -> Add xN -> Merge xP -> finalize`` lifecycle (SURVEY.md §3.1) in
Spark's partial/final aggregation model:

- **Stage A (partial, map-side):** ``mapInArrow`` over the *input
  partitions* builds one sketch state per key per partition, consuming
  Arrow batches with the vectorized kernels.  Only ``O(keys x partitions)``
  serialized sketch blobs leave the stage — raw rows never shuffle.  This
  hand-rolls the Catalyst ``Aggregate(Partial)`` that Python UDAFs don't
  get (SURVEY.md §4.2.2), i.e. a treeAggregate-style reduction.
- **Stage B (final):** ``groupBy(keys).applyInArrow`` merges blobs with
  the kernel's associative ``merge``.  An optional *salt* inserts an
  intermediate merge round for keys with very many partials (hot-key
  bounded-load handling, the ringhash precedent — SURVEY.md §2.2).
- **Global (no keys):** partials tree-merge through a fan-in bucket round
  so no single task ever sees more than ``fanin`` blobs.

Scale notes (100 TB / 1000 executors): stage A is embarrassingly parallel
and reads only the projected columns (column pruning reaches the parquet
scan because the ``select`` happens before ``mapInArrow``); the shuffle
carries KB-MB blobs; stage B's width is bounded by ``fanin``/salt.  Sketch
memory per task = keys_in_partition x state_size, independent of rows.
"""

from __future__ import annotations

import math
import struct
from typing import Dict, Iterable, Iterator, List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                               StructField, StructType)

STATE_COL = "sketch_state"

# sketches whose update() consumes string/bytes; others consume float64
_NUMERIC_KERNELS = ("TDigest", "KLL", "DDSketch")


def _is_numeric_kernel(sketch) -> bool:
    return type(sketch).__name__ in _NUMERIC_KERNELS


def _key_fields(df: DataFrame, keys: Sequence[str]) -> List[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def _kernel_values(sketch, arr):
    """Adapt a pyarrow Array to what the kernel's update() consumes."""
    import pyarrow as pa
    if _is_numeric_kernel(sketch):
        return np.asarray(arr.cast(pa.float64()), dtype=np.float64)
    return arr  # hash kernels consume Arrow arrays zero-copy


def build_partials(df: DataFrame, keys: Sequence[str], value_col: str,
                   sketch, coalesce_to: Optional[int] = None) -> DataFrame:
    """Stage A: per-input-partition partial sketch per key.

    Returns DataFrame[keys..., sketch_state: binary] with at most one row
    per (key, input partition).

    Implemented on ``mapInArrow`` so values stay in Arrow memory end to
    end — the hash kernels read the Arrow binary layout zero-copy, and no
    per-row Python string objects are ever materialized (an Arrow->pandas
    round trip on a wide text column costs more than the sketch math).

    ``coalesce_to`` caps the number of partials without a shuffle — use it
    for big-state sketches (Bloom/CMS, MBs per state) where the serialized
    partial volume (#partitions x state size), not the row scan, dominates:
    set it to ~the executor-core count.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    keys = list(keys)
    if coalesce_to:
        df = df.coalesce(coalesce_to)
    cols = keys + [value_col] if value_col not in keys else keys
    df = df.select(*cols)
    out_schema = StructType(_key_fields(df, keys) +
                            [StructField(STATE_COL, BinaryType(), False)])
    arrow_out = to_arrow_schema(out_schema)
    numeric = _is_numeric_kernel(sketch)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        acc = {}

        def upd(key_tuple, values):
            if not numeric:
                values = values.drop_null()
            if len(values) == 0 and key_tuple not in acc:
                acc[key_tuple] = sketch.zero()
                return
            st = acc.get(key_tuple)
            if st is None:
                st = sketch.zero()
            acc[key_tuple] = sketch.update(st, _kernel_values(sketch, values))

        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            vals = col[value_col]
            if not keys:
                upd((), vals)
                continue
            if len(keys) == 1:
                keyarr = col[keys[0]]
            else:
                # composite key: null-safe string join (actual typed values
                # are recovered per group from a representative row)
                keyarr = pc.binary_join_element_wise(
                    *[pc.fill_null(pc.cast(col[k], pa.string()), "\x1eNUL\x1e")
                      for k in keys], "\x1f")
            dic = keyarr.dictionary_encode()
            # group by one stable sort of the dictionary codes + boundary
            # slicing: O(n log n + K) per batch instead of a full-column
            # filter per present key (O(n*K) — quadratic-ish when a batch
            # holds many groups, e.g. per-window sketches).  Stable order
            # preserves each group's original row order, so partials stay
            # byte-identical for order-sensitive kernels.
            codes = np.asarray(pc.fill_null(dic.indices, -1))
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            sorted_vals = vals.take(pa.array(order))
            present, starts_ = np.unique(sorted_codes, return_index=True)
            bounds = np.append(starts_, len(sorted_codes))
            for gi, code in enumerate(present):
                sub = sorted_vals.slice(
                    int(bounds[gi]), int(bounds[gi + 1] - bounds[gi]))
                if code < 0:
                    upd((None,) * len(keys), sub)
                elif len(keys) == 1:
                    upd((dic.dictionary[int(code)].as_py(),), sub)
                else:
                    # recover typed key values from a representative row
                    row = int(order[bounds[gi]])
                    upd(tuple(col[k][row].as_py() for k in keys), sub)

        if acc:
            arrays = []
            for i, k in enumerate(keys):
                arrays.append(pa.array([kt[i] for kt in acc],
                                       type=arrow_out.field(k).type))
            arrays.append(pa.array([sketch.serialize(st)
                                    for st in acc.values()],
                                   type=pa.binary()))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)

    return df.mapInArrow(fn, out_schema)


def _arrow_group_merge(sketch, key_cols: List[str], out_schema=None):
    """Group-merge function for ``applyInArrow``: fold every state blob in
    the group with the kernel's associative merge, emit one row carrying
    the group key.  Arrow (not pandas) because the per-group fixed cost
    dominates when there are many small groups (720-window merge measured
    4x faster than the applyInPandas equivalent — no pandas block
    construction per group).

    When ``out_schema`` (the Spark StructType) is given, the output
    table is cast to its Arrow equivalent — pass-through key columns
    otherwise keep the INPUT table's Arrow annotations, and a timestamp
    key's timezone label can disagree with what the session expects
    back (tz=Etc/UTC vs tz=UTC) in sessions whose timeZone is not
    pinned, failing Spark's result verification."""
    import pyarrow as pa
    arrow_schema = None
    if out_schema is not None:
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(out_schema)

    def fn(table: "pa.Table") -> "pa.Table":
        st = None
        for blob in table.column(STATE_COL):
            s = sketch.deserialize(blob.as_py())
            st = s if st is None else sketch.merge(st, s)
        cols = {k: table.column(k)[:1] for k in key_cols}
        cols[STATE_COL] = pa.array([sketch.serialize(st)], type=pa.binary())
        out = pa.table(cols)
        if arrow_schema is not None:
            out = out.cast(arrow_schema)
        return out

    return fn


def merge_partials(partials: DataFrame, keys: Sequence[str], sketch,
                   salt: int = 0) -> DataFrame:
    """Stage B: merge partial states per key (optionally via a salted
    intermediate round so a hot key's merge fan-in stays bounded)."""
    keys = list(keys)
    out_schema = StructType(_key_fields(partials, keys) +
                            [StructField(STATE_COL, BinaryType(), False)])

    if not keys:
        return _tree_merge_global(partials, sketch, out_schema)

    if salt and salt > 1:
        salted_schema = StructType(_key_fields(partials, keys) +
                                   [StructField("_salt", LongType(), False),
                                    StructField(STATE_COL, BinaryType(), False)])
        salted = partials.withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
        partials = (salted.groupBy(*keys, "_salt")
                    .applyInArrow(_arrow_group_merge(sketch,
                                                     keys + ["_salt"],
                                                     salted_schema),
                                  salted_schema)
                    .drop("_salt"))

    return partials.groupBy(*keys).applyInArrow(
        _arrow_group_merge(sketch, keys, out_schema), out_schema)


def _tree_merge_global(partials: DataFrame, sketch, out_schema,
                       fanin: Optional[int] = None) -> DataFrame:
    p = max(1, partials.rdd.getNumPartitions())
    if fanin is None:
        # sqrt(P) buckets balances level-1 width against the final task's
        # fan-in; bounded so neither level degenerates at huge P
        fanin = int(min(256, max(8, math.isqrt(p))))
    state_only = StructType([StructField(STATE_COL, BinaryType(), False)])
    if p <= 64:
        # small partial count: one merge task beats paying the Arrow
        # ser/deser of every state twice through an intermediate level
        return (partials.withColumn("_g", F.lit(0)).groupBy("_g")
                .applyInArrow(_arrow_group_merge(sketch, [], state_only),
                              state_only))
    bucketed = partials.withColumn(
        "_bucket", F.pmod(F.monotonically_increasing_id(), F.lit(fanin)))
    bucket_schema = StructType([StructField("_bucket", LongType(), False),
                                StructField(STATE_COL, BinaryType(), False)])
    level1 = (bucketed.groupBy("_bucket")
              .applyInArrow(_arrow_group_merge(sketch, ["_bucket"]),
                            bucket_schema))
    return (level1.withColumn("_g", F.lit(0)).groupBy("_g")
            .applyInArrow(_arrow_group_merge(sketch, [], state_only),
                          state_only))


def suggest_salt(df: DataFrame, keys: Sequence[str],
                 factor: float = 1.25,
                 sample_fraction: Optional[float] = None,
                 seed: int = 0x5A17) -> int:
    """Data-driven salt factor for skewed grouping keys — the reference's
    bounded-load consistent hashing made batch (ringhash.go:135-162:
    no node may exceed ``ceil(avg * factor)`` load; here: no merge task's
    key may exceed that share of rows, hot keys split into ceil(share /
    bound) salted sub-groups whose sketches merge back for free).

    Returns the salt for the hottest key (1 = no salting needed).  Pass
    ``sample_fraction`` at very large scale — key *shares* converge on a
    small uniform sample, and the exact counts are never needed.
    """
    keys = list(keys)
    if not keys:
        return 1
    probe = df.sample(sample_fraction, seed=seed) if sample_fraction else df
    counts = probe.groupBy(*keys).agg(F.count("*").alias("_n"))
    row = counts.agg(F.max("_n").alias("mx"), F.avg("_n").alias("avg")) \
        .collect()[0]
    if not row["mx"]:
        return 1
    bound = row["avg"] * factor
    return max(1, int(math.ceil(row["mx"] / bound)))


def sketch_agg(df: DataFrame, keys: Sequence[str], value_col: str, sketch,
               salt: int = 0, coalesce_to: Optional[int] = None) -> DataFrame:
    """build_partials + merge_partials: DataFrame[keys..., sketch_state]."""
    return merge_partials(
        build_partials(df, keys, value_col, sketch, coalesce_to=coalesce_to),
        keys, sketch, salt=salt)


def global_sketch(df: DataFrame, value_col: str, sketch,
                  coalesce_to: Optional[int] = None):
    """Build one global sketch and return the deserialized state (driver)."""
    row = sketch_agg(df, [], value_col, sketch,
                     coalesce_to=coalesce_to).collect()
    if not row:
        return sketch.zero()
    return sketch.deserialize(bytes(row[0][STATE_COL]))


# --------------------------------------------------------------------------
# Convenience finalizing operators
# --------------------------------------------------------------------------

def hll_count_distinct(df: DataFrame, value_col: str,
                       keys: Sequence[str] = (), p: int = 14,
                       salt: int = 0, out_col: str = "approx_distinct",
                       hash_name: str = "mix64") -> DataFrame:
    """Approximate COUNT(DISTINCT value) [GROUP BY keys] via mergeable HLL.

    The gopie query `distinct urls per lang` (SURVEY.md §3.1) in one call.
    """
    from gopie_spark.kernels import HLL
    sketch = HLL(p=p, hash_name=hash_name)
    states = sketch_agg(df, keys, value_col, sketch, salt=salt)

    @F.pandas_udf(LongType())
    def finalize(blobs: pd.Series) -> pd.Series:
        return pd.Series([sketch.count(sketch.deserialize(bytes(b)))
                          for b in blobs], dtype="int64")

    return states.select(*keys, finalize(F.col(STATE_COL)).alias(out_col))


def _quantile_states(df, value_col, keys, sketch, qs, out_prefix, salt=0):
    states = sketch_agg(df, keys, value_col, sketch, salt=salt)
    qs = list(qs)

    fields = [StructField(f"{out_prefix}{str(q).replace('.', '_')}",
                          DoubleType()) for q in qs]

    @F.pandas_udf(StructType(fields))
    def finalize(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            est = sketch.quantile(sketch.deserialize(bytes(b)), qs)
            rows.append([float(v) for v in est])
        return pd.DataFrame(rows, columns=[f.name for f in fields])

    out = states.withColumn("_q", finalize(F.col(STATE_COL)))
    keys = list(keys)
    return out.select(*keys, *[F.col(f"_q.{f.name}").alias(f.name)
                               for f in fields])


def tdigest_quantiles(df: DataFrame, value_col: str, qs: Iterable[float],
                      keys: Sequence[str] = (), delta: float = 100.0,
                      salt: int = 0, out_prefix: str = "q") -> DataFrame:
    from gopie_spark.kernels import TDigest
    return _quantile_states(df, value_col, keys, TDigest(delta=delta), qs,
                            out_prefix, salt)


def kll_quantiles(df: DataFrame, value_col: str, qs: Iterable[float],
                  keys: Sequence[str] = (), k: int = 200,
                  salt: int = 0, out_prefix: str = "q") -> DataFrame:
    from gopie_spark.kernels import KLL
    return _quantile_states(df, value_col, keys, KLL(k=k), qs,
                            out_prefix, salt)


def ddsketch_buckets(df: DataFrame, value_col: str,
                     keys: Sequence[str] = (), alpha: float = 0.01,
                     min_value: float = 1e-9) -> DataFrame:
    """DDSketch build as a PLAIN Catalyst aggregation — the cheapest
    possible distributed quantile pass.

    Because the DDSketch bucket index is a closed-form function of the
    value (``ceil(log_gamma x)``, ``gamma = (1+alpha)/(1-alpha)`` —
    kernels/ddsketch.py has the background), the sketch "state" is just
    the relation ``(keys, _sign, _bucket, _n)`` and the build is
    ``groupBy(bucket).count()``: whole-stage-codegen bucket math,
    map-side partial aggregation (at most ``O(buckets)`` rows leave each
    partition regardless of input size), and merge = ``SUM`` — no
    Python anywhere, no sketch blobs, no UDAF.  t-digest/KLL cannot do
    this because their bucket boundaries are data-adaptive.

    ``_sign`` is -1/0/+1 (``|x| < min_value`` counts as the exact-zero
    bin); ``_bucket`` is the mirrored index of ``|x|``.  Nulls and NaNs
    are dropped, matching the numeric-kernel contract."""
    g = (1.0 + alpha) / (1.0 - alpha)
    v = F.col(value_col).cast("double")
    sign = (F.when(F.abs(v) < F.lit(float(min_value)), F.lit(0))
            .when(v > 0, F.lit(1)).otherwise(F.lit(-1)).cast("int"))
    raw_b = F.ceil(F.log(F.abs(v)) / F.lit(math.log(g))).cast("long")
    bucket = F.when(sign == 0, F.lit(0).cast("long")).otherwise(raw_b)
    return (df.filter(v.isNotNull() & ~F.isnan(v))
            .groupBy(*keys, sign.alias("_sign"), bucket.alias("_bucket"))
            .agg(F.count("*").alias("_n")))


def ddsketch_quantiles(df: DataFrame, value_col: str, qs: Iterable[float],
                       keys: Sequence[str] = (), alpha: float = 0.01,
                       min_value: float = 1e-9,
                       out_prefix: str = "q") -> DataFrame:
    """Quantiles with a RELATIVE-error guarantee, end-to-end in Catalyst.

    Output shape matches :func:`tdigest_quantiles` /
    :func:`kll_quantiles` (one row per key group, one double column per
    requested quantile), but the guarantee is DDSketch's: each estimate
    is within ``alpha * |x_k|`` of the true rank-``k = floor(q*(n-1))+1``
    item ``x_k`` — heavy tails keep full precision.

    Scale shape: the corpus is touched ONCE by the
    :func:`ddsketch_buckets` partial-agg scan; everything after runs on
    the bucket relation, whose size is ``O(groups x log(range)/alpha)``
    (a few thousand rows per group at alpha=0.01), so the window cumsum
    and the quantile pick are noise.  The rank walk: order buckets by
    ``(sign, sign*bucket)`` (ascending value), running-count them, and
    for each q take the FIRST bucket whose cumulative count reaches the
    target rank; the answer is that bucket's midpoint
    ``sign * 2*gamma^b/(gamma+1)``.  qs outside (0,1) still honor the
    bound (rank clamps to 1 / n)."""
    bk = ddsketch_buckets(df, value_col, list(keys), alpha, min_value)
    return _ddsketch_walk(bk, qs, list(keys), alpha, out_prefix)


def _ddsketch_walk(bk: DataFrame, qs: Iterable[float],
                   keys: Sequence[str], alpha: float,
                   out_prefix: str = "q") -> DataFrame:
    """The rank walk over a ``(keys..., _sign, _bucket, _n)`` bucket
    relation — shared by :func:`ddsketch_quantiles` and
    :func:`ddsketch_window_quantiles`."""
    from pyspark.sql import Window
    g = (1.0 + alpha) / (1.0 - alpha)
    qs = [float(q) for q in qs]
    keys = list(keys)
    # single sortable key for (sign, sign*bucket): |bucket| < 2^31 for
    # any representable double at any sane alpha, so the packing is exact
    okey = (F.col("_sign").cast("long") * F.lit(2 ** 32)
            + F.col("_sign") * F.col("_bucket"))
    est = (F.when(F.col("_sign") == 0, F.lit(0.0))
           .otherwise(F.col("_sign")
                      * (F.lit(2.0)
                         * F.exp(F.col("_bucket") * F.lit(math.log(g)))
                         / F.lit(g + 1.0))))
    part = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w_cum = part.orderBy("_okey").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    w_all = part.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    walk = (bk.select(*keys, okey.alias("_okey"), est.alias("_est"), "_n")
            .withColumn("_cum", F.sum("_n").over(w_cum))
            .withColumn("_tot", F.sum("_n").over(w_all)))
    names = [f"{out_prefix}{str(q).replace('.', '_')}" for q in qs]
    qtab = F.explode(F.array(*[
        F.struct(F.lit(nm).alias("_qname"), F.lit(q).alias("_q"))
        for nm, q in zip(names, qs)])).alias("_qs")
    rank = F.greatest(
        F.lit(1).cast("long"),
        (F.floor(F.col("_qs._q") * (F.col("_tot") - 1)) + 1).cast("long"))
    hits = (walk.select(*keys, "_okey", "_est", "_cum", "_tot", qtab)
            .filter(F.col("_cum") >= rank))
    picked = (hits.groupBy(*keys)
              .pivot("_qs._qname", names)
              .agg(F.min_by("_est", "_okey")))
    if not keys:
        # pivot with no grouping keys still yields one row; keep column
        # order deterministic and matching the sibling quantile ops
        return picked.select(*names)
    return picked.select(*keys, *names)


def ddsketch_window_quantiles(df: DataFrame, value_col: str, ts_col: str,
                              qs: Iterable[float],
                              windows: Sequence[int],
                              resolution: float = 86400.0,
                              keys: Sequence[str] = (),
                              alpha: float = 0.01,
                              min_value: float = 1e-9,
                              out_prefix: str = "q") -> DataFrame:
    """Relative-error quantiles over TRAILING TIME WINDOWS chosen at
    query time, still end-to-end in Catalyst — the quantile member of
    the query-time-window tier (distinct: ``sliding_hll_build``,
    frequencies: ``window_cms_build``, quantiles: this).

    The corpus is touched ONCE: :func:`ddsketch_buckets` with the tick
    ``floor(epoch / resolution)`` as an extra group key (still a plain
    codegen ``groupBy().count()`` with map-side partials — at most
    O(buckets x ticks) rows leave any partition).  Each requested
    trailing window ``w`` (in ticks, ending at the newest tick present)
    then filters + re-sums the BUCKET RELATION ONLY and runs the same
    rank walk, so per-window cost is independent of corpus size.  Each
    window's estimates carry the full DDSketch guarantee for exactly
    that window's substream (the per-tick bucket counts are exact).

    Returns ``DataFrame[window_ticks, keys..., q...]``, one row per
    (window, key group)."""
    keys = list(keys)
    tick = F.floor(F.col(ts_col).cast("timestamp").cast("double")
                   / F.lit(float(resolution))).cast("long")
    bk = ddsketch_buckets(df.withColumn("_tick", tick), value_col,
                          keys + ["_tick"], alpha, min_value)
    if not windows:
        raise ValueError("windows must not be empty")
    bk = bk.localCheckpoint(eager=False)   # one corpus scan, reused per window
    at = bk.agg(F.max("_tick")).first()[0]
    if at is None:
        at = 0   # empty bucket relation: every window walk is empty
    outs = []
    for w in windows:
        w = int(w)
        win = (bk.filter((F.col("_tick") <= at)
                         & (F.col("_tick") > at - w))
               .groupBy(*keys, "_sign", "_bucket")
               .agg(F.sum("_n").alias("_n")))
        outs.append(_ddsketch_walk(win, qs, keys, alpha, out_prefix)
                    .select(F.lit(w).alias("window_ticks"), "*"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def quantile_gate(df: DataFrame, value_col: str,
                  keys: Sequence[str] = (), q_lo: float = 0.05,
                  q_hi: float = 0.95, method: str = "tdigest",
                  delta: float = 100.0, k: int = 200, alpha: float = 0.01,
                  salt: int = 0,
                  lo_col: str = "q_lo_val",
                  hi_col: str = "q_hi_val") -> DataFrame:
    """Keep rows inside the per-group ``[q_lo, q_hi]`` quantile band of
    ``value_col`` — the Gopher-style outlier trim (drop the shortest /
    longest documents per language) done sketch-wise: thresholds come
    from ONE mergeable t-digest/KLL pass (partial per-partition build,
    tiny-state merge), never a per-group sort.

    This is the sketch-core x pipeline-tier composition the quantile
    kernels exist for: exact per-group quantiles at 10^12 rows mean a
    full shuffle-sort of the corpus per group, while the sketch pass
    shuffles only per-partition digest blobs and the threshold table is
    group-count-sized — broadcast back onto the corpus scan, so the
    gate itself is a zero-shuffle filter.

    Approximation contract: a sketch threshold sits within the
    kernel's published rank error of the true quantile (t-digest ~1%
    at the tails by construction, KLL eps(k)), so the gate's cut
    differs from the exact-quantile cut only for rows within that rank
    band of the edges — the standard, documented trade.  Rows are kept
    when ``lo <= value <= hi``; the thresholds ride along as
    ``lo_col`` / ``hi_col`` for observability.  Null values never
    pass the gate."""
    qs = [float(q_lo), float(q_hi)]
    if method == "tdigest":
        est = tdigest_quantiles(df, value_col, qs, keys=keys,
                                delta=delta, salt=salt)
    elif method == "kll":
        est = kll_quantiles(df, value_col, qs, keys=keys, k=k, salt=salt)
    elif method == "ddsketch":
        # cheapest threshold pass: pure Catalyst (closed-form buckets,
        # partial-aggregable groupBy), no mapInArrow stage at all; the
        # contract shifts from rank error to DDSketch's RELATIVE error —
        # each threshold is within alpha*|x_k| of the true quantile item,
        # so prefer it when value ranges are heavy-tailed (doc lengths)
        est = ddsketch_quantiles(df, value_col, qs, keys=keys, alpha=alpha)
    else:
        raise ValueError(f"unknown quantile method: {method!r}")
    names = [f"q{str(q).replace('.', '_')}" for q in qs]
    keys = list(keys)
    if keys:
        # null-safe equi-join: a NULL group value is a real group (it
        # got a threshold row from the sketch pass) and must keep its
        # gating decision — a plain equi-join would silently drop every
        # NULL-group row.  Same fix as token_budget_sample's strata join.
        thresholds = est.select(
            *[F.col(s).alias(f"_qg_{s}") for s in keys],
            F.col(names[0]).alias(lo_col), F.col(names[1]).alias(hi_col))
        cond = None
        for s in keys:
            c = F.col(s).eqNullSafe(F.col(f"_qg_{s}"))
            cond = c if cond is None else cond & c
        joined = df.join(F.broadcast(thresholds), cond) \
            .drop(*[f"_qg_{s}" for s in keys])
    else:
        thresholds = est.select(F.col(names[0]).alias(lo_col),
                                F.col(names[1]).alias(hi_col))
        joined = df.crossJoin(F.broadcast(thresholds))
    return joined.filter((F.col(value_col) >= F.col(lo_col))
                         & (F.col(value_col) <= F.col(hi_col)))


# --------------------------------------------------------------------------
# Multi-kernel and token-count builds: private adapters on the kernel
# contract (zero/update/merge/serialize/deserialize), so every one of
# them rides build_partials + merge_partials unchanged
# --------------------------------------------------------------------------

_MULTI = "_specs"     # struct column of a _Composite build's value columns
_COUNTED = "_tc"      # struct<tok, cnt> column of a _Counted build


class _Composite:
    """N ``(struct field, kernel)`` specs as one sketch over a struct
    column — one scan, one partial per key per partition for all N.

    Per spec, :meth:`update` keeps :func:`build_partials`' contract
    (hash kernels see null-dropped Arrow arrays zero-copy, numeric
    kernels get float64 with nulls coerced), so each state is the one
    the single-kernel build would produce.  The blob is the
    length-prefixed concatenation of the kernel blobs: transport
    between the two stages only, never persisted."""

    def __init__(self, specs):
        self.specs = list(specs)

    def zero(self):
        return [sk.zero() for _, sk in self.specs]

    def update(self, sts, values):
        for i, (field, sk) in enumerate(self.specs):
            vals = values.field(field)
            if not _is_numeric_kernel(sk):
                vals = vals.drop_null()
            if len(vals):
                sts[i] = sk.update(sts[i], _kernel_values(sk, vals))
        return sts

    def merge(self, a, b):
        return [sk.merge(x, y) for (_, sk), x, y in zip(self.specs, a, b)]

    def serialize(self, sts):
        blobs = [sk.serialize(st) for (_, sk), st in zip(self.specs, sts)]
        return b"".join(struct.pack("<Q", len(b)) + b for b in blobs)

    def deserialize(self, blob):
        out, off = [], 0
        for _, sk in self.specs:
            (n,) = struct.unpack_from("<Q", blob, off)
            out.append(sk.deserialize(blob[off + 8:off + 8 + n]))
            off += 8 + n
        return out


def _pack_specs(df: DataFrame, specs: Sequence, keys: Sequence[str] = ()):
    """Project ``keys`` plus one struct of the specs' distinct columns;
    returns ``(DataFrame[keys..., _specs], _Composite)``."""
    cols: List[str] = []
    for c, _ in specs:
        if c not in cols:
            cols.append(c)
    comp = _Composite([(cols.index(c), sk) for c, sk in specs])
    return (df.select(*keys, F.struct(*[F.col(c) for c in cols])
                      .alias(_MULTI)), comp)


class _Counted:
    """A weighted kernel fed ``struct<tok, cnt>`` rows of a JVM
    pre-aggregated count stream: one ``update(state, tokens, counts)``
    per Arrow batch."""

    def __init__(self, sketch, counts_dtype=np.uint64):
        self.sketch = sketch
        self.counts_dtype = counts_dtype

    def zero(self):
        return self.sketch.zero()

    def update(self, st, values):
        counts = np.asarray(values.field(1)).astype(self.counts_dtype)
        return self.sketch.update(st, values.field(0), counts)

    def merge(self, a, b):
        return self.sketch.merge(a, b)

    def serialize(self, st):
        return self.sketch.serialize(st)

    def deserialize(self, blob):
        return self.sketch.deserialize(blob)


def _counted(tok: DataFrame) -> DataFrame:
    """Exact ``groupBy(tok).count()`` in whole-stage codegen with
    map-side partial aggregation, as the ``_tc`` column a
    :class:`_Counted` kernel consumes."""
    return (tok.groupBy("tok").agg(F.count("*").alias("cnt"))
            .select(F.struct("tok", "cnt").alias(_COUNTED)))


def _wordcount(df: DataFrame, text_col: str) -> DataFrame:
    """The JVM wordcount of ``text_col``'s whitespace tokens."""
    return _counted(df.select(F.explode(F.split(F.col(text_col), r"\s+"))
                              .alias("tok"))
                    .filter(F.col("tok") != ""))


def cms_tokens_build(df: DataFrame, text_col: str = "text",
                     epsilon: float = 0.001, delta: float = 0.99):
    """Token-frequency CMS with JVM exact pre-aggregation.

    ``explode(split(text)) -> groupBy(token).count()`` runs entirely in
    whole-stage codegen with Catalyst's *partial* hash aggregate map-side,
    so the shuffle carries (token, partial_count) pairs — the classic
    wordcount shuffle — and the Python boundary only ever sees the
    aggregated (token, count) stream (KBs..MBs), never the raw text
    (GBs..TBs).  The sketch update is then one vectorized pass per shuffle
    partition, merged associatively.

    Trade-off vs the pure-sketch path (``cms_build(tokenize=True)``),
    which tokenizes + value_counts inside each Arrow batch and never
    shuffles a token row: measured on the 4M-row pages table at 8 pinned
    cores, the Arrow path is ~1.8x faster end-to-end (22s vs 39s,
    byte-identical sketch) because the wordcount shuffle's 260M-row
    hash-aggregate costs more than piping the text bytes to Python.  BUT
    the Arrow path is memory-bandwidth-bound, so it scales worse as cores
    share one node's memory bus (measured 0.69 vs 0.81 scaling efficiency
    2->8 pinned cores) — prefer this shuffle path when scaling comes from
    more cores per node, the Arrow path when it comes from more nodes.
    The JVM pre-agg also wins outright when the value column is *already*
    low-cardinality (see ``cms_build(jvm_pre_aggregate=True)``).
    """
    from gopie_spark.kernels import CMS
    cms = CMS.from_guess(epsilon, delta)
    return cms, tokens_sketch_build(df, cms, text_col)


def countsketch_tokens_build(df: DataFrame, text_col: str = "text",
                             width: int = 2048, depth: int = 7):
    """Token-frequency CountSketch (kernels/countsketch.py — UNBIASED
    point estimates, error ~ sqrt(F2/w) vs the CMS's one-sided N/w)
    behind the same JVM wordcount pre-aggregation as
    :func:`cms_tokens_build`: the shuffle carries (token,
    partial_count) pairs from Catalyst's map-side hash aggregate, the
    Python boundary sees only the vocabulary-bounded aggregated
    stream, and the per-partition sketch states merge associatively
    (signed counter ADD — CountSketch is linear, so A - B is the
    frequency-difference sketch of two corpora for free)."""
    from gopie_spark.kernels import CountSketch
    cs = CountSketch(width=width, depth=depth)
    return cs, tokens_sketch_build(df, cs, text_col, counts_dtype=np.int64)


def tokens_sketch_build(df: DataFrame, sketch, text_col: str = "text",
                        counts_dtype=np.uint64):
    """Generic token-frequency sketch build behind the JVM wordcount
    pre-aggregation (the :func:`cms_tokens_build` /
    :func:`countsketch_tokens_build` plan, kernel-agnostic): Catalyst's
    partial+final hash aggregate turns the raw text into a
    vocabulary-bounded (token, count) stream entirely in whole-stage
    codegen, one vectorized weighted kernel update runs per shuffle
    partition, and the states merge associatively.  Works for any
    kernel whose ``update(state, values, counts)`` accepts weights
    (CMS, CountSketch, Misra-Gries, Theta ignores counts).  Returns
    the merged driver-side state."""
    return global_sketch(_wordcount(df, text_col), _COUNTED,
                         _Counted(sketch, counts_dtype))


def tokens_sketch_build_multi(df: DataFrame, sketches: Sequence,
                              text_col: str = "text",
                              counts_dtype=np.uint64) -> List:
    """N token-frequency kernels from ONE JVM wordcount stream.

    Same plan as :func:`tokens_sketch_build`, but every kernel consumes
    the SAME (token, count) Arrow batches: the corpus is tokenized and
    the vocabulary-bounded wordcount shuffled exactly once no matter
    how many sketches ride it.  The snapshot-drift path builds
    CountSketch + Misra-Gries together this way — previously two full
    wordcount passes per snapshot, which at 10^12 docs doubles the
    dominant (tokenize + shuffle) cost for no information gain, since
    both kernels are pure functions of the counted stream.

    The kernels ride :func:`global_sketch_multi`, so the merge is the
    global path's sqrt(P)-bounded tree.  Returns the merged
    driver-side states in input order.
    """
    return global_sketch_multi(
        _wordcount(df, text_col),
        [(_COUNTED, _Counted(sk, counts_dtype)) for sk in sketches])


def global_sketch_multi(df: DataFrame, specs: Sequence) -> List:
    """N global sketches over (possibly different) columns of ONE scan.

    ``specs`` is a sequence of ``(value_col, kernel)``.  Where
    :func:`global_sketch` scans the corpus once PER sketch, this
    projects the union of the requested columns into one struct, walks
    the Arrow batches once, and updates every kernel from its column —
    at 100 TB the scan IS the cost, so co-building k global sketches
    this way divides it by k.  The snapshot-drift path builds the
    URL theta and the token-length KLL together this way.

    It is :func:`global_sketch` over a composite kernel, so null
    handling, value adaptation and the merge tree are the
    single-kernel build's, and each returned state is the state that
    build would have produced.  Returns the states in spec order.
    """
    packed, comp = _pack_specs(df, specs)
    return global_sketch(packed, _MULTI, comp)


def keyed_sketch_multi(df: DataFrame, key: str, specs: Sequence,
                       ) -> Dict:
    """N sketches PER GROUP from ONE corpus scan.

    The grouped twin of :func:`global_sketch_multi`: ``specs`` is a
    sequence of ``(value_col, kernel)``, and the build is
    ``sketch_agg(df, [key], ...)`` over the same composite kernel — so
    k per-group sketches cost one scan and one merge shuffle, not k.

    Intended for group columns with BOUNDED cardinality (lang, source,
    split — the per-lang drift / heavy-hitter shape); the result is
    collected: ``{group_value: [state, ...in spec order]}``.  Groups
    whose key is null are keyed as Python ``None``.
    """
    packed, comp = _pack_specs(df, specs, [key])
    return {r[key]: comp.deserialize(bytes(r[STATE_COL]))
            for r in sketch_agg(packed, [key], _MULTI, comp).collect()}


def cms_build(df: DataFrame, value_col: str, epsilon: float = 0.001,
              delta: float = 0.99, pre_aggregate: bool = True,
              tokenize: bool = False, coalesce_to: Optional[int] = None,
              jvm_pre_aggregate: bool = False):
    """Build a global Count-Min sketch over a column; returns (cms, state).

    With ``pre_aggregate`` the per-partition kernel update hashes each
    *distinct* value once with its exact in-batch count (map-side combine
    inside the batch) — the dominant cost at web scale is hashing, and
    Zipf token streams are mostly duplicates: per-partition distincts are
    vocabulary-bounded, so the update is O(vocab) per batch regardless of
    row count.

    ``jvm_pre_aggregate=True`` goes further for *low-cardinality* columns:
    Catalyst's partial+final HashAggregate computes exact
    ``groupBy(value).count()`` entirely in whole-stage codegen, and only
    the (value, count) pairs — bounded by the value universe, not the row
    count — ever cross the Arrow boundary into one vectorized sketch
    update.  At 10^12 rows over an enum-like column this is the only
    sensible plan: raw values never reach Python and the shuffle carries
    partial counts.

    ``tokenize=True`` counts whitespace *tokens of* the column instead of
    whole values (the per-lang heavy-hitter-token workload) — splitting
    happens inside the Arrow batch (:class:`PreAggCMS`), so token rows
    never hit the Spark row stream.
    """
    from gopie_spark.kernels import CMS
    cms = CMS.from_guess(epsilon, delta)

    if jvm_pre_aggregate and not tokenize:
        tok = (df.select(F.col(value_col).cast("string").alias("tok"))
               .filter(F.col("tok").isNotNull()))
        return cms, global_sketch(_counted(tok), _COUNTED, _Counted(cms))

    if not pre_aggregate and not tokenize:
        return cms, global_sketch(df, value_col, cms, coalesce_to=coalesce_to)

    return cms, global_sketch(df, value_col, PreAggCMS(cms, tokenize),
                              coalesce_to=coalesce_to)


class PreAggCMS:
    """CMS whose update() pre-aggregates each batch to distinct+counts.

    Arrow-native end to end: whitespace split, flatten, and value_counts
    run in Arrow C++ (no Python object arrays — at 32 concurrent workers
    the pandas explode/value_counts equivalent allocation-storms the
    memory subsystem), and the distinct-token StringArray feeds the FNV
    kernel zero-copy.  With ``tokenize`` the value column is whitespace-
    split first (token-frequency sketches over a text column).  Usable
    anywhere a sketch is (sketch_agg keys, streaming, checkpoint) since
    it keeps the CMS state/merge/serialize contract."""

    def __init__(self, cms, tokenize: bool = False):
        self.cms = cms
        self.tokenize = tokenize

    def zero(self):
        return self.cms.zero()

    def update(self, st, values):
        import pyarrow as pa
        import pyarrow.compute as pc
        arr = pa.Array.from_pandas(values) \
            if not isinstance(values, pa.Array) else values
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if self.tokenize:
            arr = pc.list_flatten(pc.split_pattern_regex(arr, r"\s+"))
            arr = arr.filter(pc.not_equal(arr, ""))
        vc = arr.value_counts()
        return self.cms.update(st, vc.field("values"),
                               vc.field("counts").to_numpy()
                               .astype(np.uint64))

    def merge(self, a, b):
        return self.cms.merge(a, b)

    def serialize(self, st):
        return self.cms.serialize(st)

    def deserialize(self, blob):
        return self.cms.deserialize(blob)


def cms_estimate_map(spark: SparkSession, cms, state, df: DataFrame,
                     value_col: str, out_col: str = "cms_estimate") -> DataFrame:
    """Point-query every row's value against a broadcast CMS state."""
    blob = cms.serialize(state)
    bc = spark.sparkContext.broadcast(blob)

    @F.pandas_udf(LongType())
    def estimate(vals: pd.Series) -> pd.Series:
        st = cms.deserialize(bc.value)
        est = cms.estimate(st, vals.fillna("").astype(str))
        return pd.Series(est.astype(np.int64))

    return df.withColumn(out_col, estimate(F.col(value_col).cast("string")))


def bloom_build(df: DataFrame, value_col: str, n: int, p: float,
                variant: str = "bit"):
    """Build a global Bloom filter over a column; returns (bloom, state)."""
    from gopie_spark.kernels import BloomBit, BloomCounting, BloomScalable
    bloom = {"bit": BloomBit, "counting": BloomCounting}[variant] \
        .from_guess(n, p) if variant in ("bit", "counting") \
        else BloomScalable(n0=n, p=p)
    return bloom, global_sketch(df, value_col, bloom)


def sliding_hll_build(df: DataFrame, value_col: str, ts_col: str,
                      p: int = 14, keys: Sequence[str] = (),
                      coalesce_to: Optional[int] = None):
    """Build sliding-HLL states over (value, event-time) — distinct
    counts over ANY suffix time window from ONE pass (kernels/
    slidinghll.py, Chabchoub-Hébrail 2010).

    Returns ``(sketch, state)`` for no keys, else ``(sketch,
    DataFrame[keys..., sketch_state])``.  The value and timestamp ride
    one Arrow struct column through the standard two-level aggregation
    (mapInArrow partials, frontier-union merge), so the shuffle carries
    ~m*ln(n/m) entries per state, never rows.  Contrast with
    ``windows.py``'s sliding-window sketches: those pick the windows at
    BUILD time (explode into member windows); this picks them at QUERY
    time (any cutoff, same state)."""
    from gopie_spark.kernels import SlidingHLL
    sh = SlidingHLL(p=p)
    # timestamp/ntz -> epoch seconds (double, sub-second precision);
    # the session tz is pinned UTC (plans.get_spark) so this equals
    # DuckDB's epoch(ts); numeric ts columns pass through the same cast
    vt = F.struct(F.col(value_col).cast("string").alias("v"),
                  F.col(ts_col).cast("timestamp").cast("double")
                  .alias("t")).alias("_vt")
    src = df.select(*keys, vt)
    if keys:
        return sh, sketch_agg(src, list(keys), "_vt", sh,
                              coalesce_to=coalesce_to)
    return sh, global_sketch(src, "_vt", sh, coalesce_to=coalesce_to)


def window_cms_build(df: DataFrame, value_col: str, ts_col: str,
                     epsilon: float = 0.001, delta: float = 0.99,
                     resolution: float = 3600.0, n_ticks: int = 168,
                     keys: Sequence[str] = (),
                     coalesce_to: Optional[int] = None):
    """Build windowed-CMS states over (value, event-time) — point
    frequencies over ANY trailing tick-aligned window from ONE pass
    (kernels/windowcms.py).  Same transport shape as
    :func:`sliding_hll_build`: value+ts ride one Arrow struct column
    through the standard two-level aggregation, so the shuffle carries
    adaptive-sparse counter blobs, never rows.  Returns ``(sketch,
    state)`` for no keys, else ``(sketch, DataFrame[keys..., state])``.
    """
    from gopie_spark.kernels import WindowCMS
    wc = WindowCMS.from_guess(epsilon, delta, resolution=resolution,
                              n_ticks=n_ticks)
    vt = F.struct(F.col(value_col).cast("string").alias("v"),
                  F.col(ts_col).cast("timestamp").cast("double")
                  .alias("t")).alias("_vt")
    src = df.select(*keys, vt)
    if keys:
        return wc, sketch_agg(src, list(keys), "_vt", wc,
                              coalesce_to=coalesce_to)
    return wc, global_sketch(src, "_vt", wc, coalesce_to=coalesce_to)


def window_cms_tokens_build(df: DataFrame, text_col: str = "text",
                            ts_col: str = "warc_ts",
                            epsilon: float = 0.001, delta: float = 0.99,
                            resolution: float = 3600.0,
                            n_ticks: int = 168):
    """Token-frequency windowed CMS with JVM exact pre-aggregation.

    The wordcount trick of :func:`cms_tokens_build` with the tick as a
    second group key: ``explode(split(text)) -> groupBy(token,
    floor(epoch/resolution)).count()`` runs in whole-stage codegen with
    map-side partial aggregation, so the Python boundary sees only the
    aggregated (token, tick, count) stream and the sketch hashes each
    distinct (token, tick) once (``update_ticked``).  Time-bucketing
    happens JVM-side with the SAME floor rule the kernel (and any SQL
    oracle) uses."""
    import pyarrow as pa
    from gopie_spark.kernels import WindowCMS
    wc = WindowCMS.from_guess(epsilon, delta, resolution=resolution,
                              n_ticks=n_ticks)

    counted = (df.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
        F.floor(F.col(ts_col).cast("timestamp").cast("double")
                / F.lit(float(resolution))).alias("tick"))
        .filter((F.col("tok") != "") & F.col("tick").isNotNull())
        .groupBy("tok", "tick").agg(F.count("*").alias("cnt")))

    out_schema = StructType([StructField(STATE_COL, BinaryType(), False)])

    def fn(batches):
        st = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if st is None:
                st = wc.zero()
            st = wc.update_ticked(
                st, rb.column(0),
                np.asarray(rb.column(1)).astype(np.int64),
                np.asarray(rb.column(2)).astype(np.uint64))
        if st is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array([wc.serialize(st)], type=pa.binary())],
                names=[STATE_COL])

    partials = counted.mapInArrow(fn, out_schema)
    row = merge_partials(partials, [], wc).collect()
    state = wc.deserialize(bytes(row[0][STATE_COL])) if row else wc.zero()
    return wc, state


def cuckoo_build(df: DataFrame, value_col: str, n: int, p: float,
                 coalesce_to: Optional[int] = None):
    """Build a global cuckoo filter over a column; returns (cf, state).

    Same two-level shape as :func:`bloom_build`, but the partial states
    are canonical entry multisets (~6 B per inserted key, independent of
    the sized capacity) and the kicked table is materialized only where
    the filter is probed — see kernels/cuckoo.py.  Use the cuckoo tier
    instead of the counting Bloom when removals are needed at less than
    uint16-counter space."""
    from gopie_spark.kernels import CuckooFilter
    cf = CuckooFilter.from_guess(n, p)
    return cf, global_sketch(df, value_col, cf, coalesce_to=coalesce_to)


def bloom_filter(spark: SparkSession, bloom, state, df: DataFrame,
                 value_col: str, keep: bool = True,
                 out_col: Optional[str] = None) -> DataFrame:
    """Membership semi-join pre-filter: keep (or flag) rows whose value is
    possibly in the Bloom set.  Never drops a true member (no false
    negatives); survivors may include ~p false positives — callers needing
    exactness follow with an exact join on the (much smaller) survivor set,
    which is exactly Spark's runtime bloom-join pruning pattern."""
    blob = bloom.serialize(state)
    bc = spark.sparkContext.broadcast(blob)

    @F.pandas_udf("boolean")
    def exist(vals: pd.Series) -> pd.Series:
        st = bloom.deserialize(bc.value)
        return pd.Series(bloom.exist(st, vals.fillna("").astype(str)))

    flag = exist(F.col(value_col).cast("string"))
    if out_col:
        return df.withColumn(out_col, flag)
    return df.filter(flag if keep else ~flag)
