"""Windowed sketches, streaming micro-batch merges, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gopie_spark.kernels import HLL
from gopie_spark.operators.sketch_agg import STATE_COL, sketch_agg
from gopie_spark.operators.windows import (sliding_window_counts,
                                           windowed_sketch_agg)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_tumbling_window_sketch_matches_exact(spark, events):
    hll = HLL(p=14)
    out = windowed_sketch_agg(events, "ts", "user_id", hll, width_s=3600)
    got = {}
    for r in out.collect():
        st = hll.deserialize(bytes(r[STATE_COL]))
        got[r["window_start"]] = hll.count(st)
    exact = {r["w"]: r["n"] for r in events.groupBy(
        F.timestamp_seconds((F.unix_timestamp("ts") / 3600).cast("long") * 3600)
        .alias("w")).agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(got) == set(exact)
    for w, n in exact.items():
        assert abs(got[w] - n) / max(n, 1) <= 3 * hll.std_err + 0.05


def test_sliding_window_counts_overlap(spark):
    rows = [(f"2026-01-01 00:{m:02d}:00",) for m in (0, 1, 5, 9, 10)]
    df = spark.createDataFrame(rows, "ts_s string") \
        .select(F.to_timestamp("ts_s").alias("ts"))
    out = {r["window_start"].isoformat(): r["n"]
           for r in sliding_window_counts(df, "ts", width_s=600,
                                          slide_s=300).collect()}
    assert out["2026-01-01T00:00:00"] == 4   # [00:00,00:10): 00,01,05,09
    assert out["2026-01-01T00:05:00"] == 3   # [00:05,00:15): 05,09,10
    assert out["2026-01-01T00:10:00"] == 1   # [00:10,00:20): 10


def test_sliding_equals_tumbling_when_same(spark, events):
    hll = HLL(p=10)
    a = windowed_sketch_agg(events, "ts", "user_id", hll,
                            width_s=3600, slide_s=3600)
    b = windowed_sketch_agg(events, "ts", "user_id", hll, width_s=3600)
    sa = {r["window_start"]: bytes(r[STATE_COL]) for r in a.collect()}
    sb = {r["window_start"]: bytes(r[STATE_COL]) for r in b.collect()}
    assert sa == sb


def test_sliding_panes_engine_byte_equals_explode(spark, events):
    """The pane-based sliding engine (tumbling pane states + per-window
    state merges) must be BYTE-identical to the row-explode reference
    engine — both reduce to the same register merges, so serialized
    states cannot differ."""
    hll = HLL(p=12)
    a = windowed_sketch_agg(events, "ts", "user_id", hll,
                            width_s=3600, slide_s=900, engine="panes")
    b = windowed_sketch_agg(events, "ts", "user_id", hll,
                            width_s=3600, slide_s=900, engine="explode")
    sa = {r["window_start"]: bytes(r[STATE_COL]) for r in a.collect()}
    sb = {r["window_start"]: bytes(r[STATE_COL]) for r in b.collect()}
    assert sa == sb
    # keyed variant too (keys ride both shuffles)
    ak = windowed_sketch_agg(events, "ts", "user_id", hll,
                             width_s=7200, slide_s=3600,
                             keys=["event_type"], engine="panes")
    bk = windowed_sketch_agg(events, "ts", "user_id", hll,
                             width_s=7200, slide_s=3600,
                             keys=["event_type"], engine="explode")
    ka = {(r["window_start"], r["event_type"]): bytes(r[STATE_COL])
          for r in ak.collect()}
    kb = {(r["window_start"], r["event_type"]): bytes(r[STATE_COL])
          for r in bk.collect()}
    assert ka == kb


def test_sliding_engines_agree_on_null_and_preepoch_ts(spark):
    """Byte-identity must hold on the awkward inputs too: null
    timestamps (dropped by BOTH engines — explode loses them inside
    explode(null), panes filters to match) and pre-epoch timestamps
    (floor division, not cast-truncation, keeps the window grids
    aligned below zero)."""
    hll = HLL(p=8)
    rows = [("1969-12-31 23:50:00", 1), ("1969-12-31 23:59:30", 2),
            ("1970-01-01 00:00:05", 3), ("1970-01-01 00:14:00", 4),
            (None, 5)]
    df = spark.createDataFrame(rows, "ts_s string, user_id long") \
        .select(F.to_timestamp("ts_s").alias("ts"), "user_id")
    a = windowed_sketch_agg(df, "ts", "user_id", hll,
                            width_s=600, slide_s=150, engine="panes")
    b = windowed_sketch_agg(df, "ts", "user_id", hll,
                            width_s=600, slide_s=150, engine="explode")
    sa = {r["window_start"]: bytes(r[STATE_COL]) for r in a.collect()}
    sb = {r["window_start"]: bytes(r[STATE_COL]) for r in b.collect()}
    assert sa == sb
    assert None not in sa
    # the pre-epoch event's earliest covering window exists in both
    assert any(w.year == 1969 for w in sa)


def test_streaming_sketch_equals_batch(spark, tmp_path):
    """Micro-batch-merged streaming HLL == one-shot batch HLL (byte-equal),
    via a file-source stream drained with availableNow."""
    from gopie_spark.sources.pages import generate_pages
    from gopie_spark.streaming import StreamingSketch

    src = str(tmp_path / "stream_src")
    generate_pages(src, 2000, n_files=4, seed=9)
    hll = HLL(p=12)

    df_all = spark.read.parquet(src)
    batch_states = {r["lang"]: bytes(r[STATE_COL])
                    for r in sketch_agg(df_all.select("lang", "url"),
                                        ["lang"], "url", hll).collect()}

    ss = StreamingSketch(spark, hll, ["lang"], "url",
                         str(tmp_path / "state"))
    q = ss.start_file_stream(src, df_all.schema)
    q.awaitTermination(120)
    cur = ss.current_states()
    got = {r["lang"]: bytes(r[STATE_COL]) for r in cur.collect()}
    assert got == batch_states


def test_streaming_windowed_sketch_equals_batch(spark, tmp_path):
    """Streaming per-window HLL == batch windowed_sketch_agg (byte-equal
    per window), including 'late' rows: files arrive in an order unrelated
    to event time and still merge into the right windows — no watermark
    needed for correctness (associativity)."""
    from gopie_spark.sources.pages import generate_pages
    from gopie_spark.streaming.microbatch import windowed_streaming_sketch

    src = str(tmp_path / "wsrc")
    generate_pages(src, 2000, n_files=4, seed=21)
    hll = HLL(p=12)
    df_all = spark.read.parquet(src)

    batch = windowed_sketch_agg(df_all, "warc_ts", "url", hll,
                                width_s=21600)
    want = {r["window_start"]: bytes(r[STATE_COL]) for r in batch.collect()}

    stream = spark.readStream.schema(df_all.schema).parquet(src) \
        .select("warc_ts", "url")
    q, ss = windowed_streaming_sketch(spark, hll, stream, "warc_ts", "url",
                                      width_s=21600,
                                      state_dir=str(tmp_path / "wstate"))
    q.awaitTermination(120)
    got = {r["window_start"]: bytes(r[STATE_COL])
           for r in ss.current_states().collect()}
    assert got == want


def test_multimodal_plumbing(spark):
    from gopie_spark.sources.multimodal import (FEATURE_DIM, decode_image,
                                                extract_features,
                                                fake_feature_extractor,
                                                frame_sample, synth_media)
    media = synth_media(spark, n=30)
    feats = extract_features(media).select("media_id", "features").collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    # deterministic: same payload -> same features across runs
    one = synth_media(spark, n=30).filter("media_id = 0") \
        .select("payload").first()[0]
    direct = fake_feature_extractor(bytes(one))
    spark_row = [r for r in feats if r["media_id"] == 0][0]
    assert np.allclose(spark_row["features"], direct, atol=1e-6)

    frames = frame_sample(media, n_frames=4).select("media_id", "frames")
    for r in frames.collect():
        assert 1 <= len(r["frames"]) <= 4
        assert all(isinstance(bytes(f), bytes) for f in r["frames"])

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")

    from gopie_spark.sources.multimodal import fake_resizer, resize_media
    resized = resize_media(media, target_w=16, target_h=8) \
        .select("media_id", "resized", "resized_w", "resized_h").collect()
    assert all(len(bytes(r["resized"])) == 16 * 8 for r in resized)
    assert all((r["resized_w"], r["resized_h"]) == (16, 8) for r in resized)
    # deterministic + matches the serial stand-in per row
    direct_rs = fake_resizer(bytes(one), 16, 8)
    row0 = [r for r in resized if r["media_id"] == 0][0]
    assert bytes(row0["resized"]) == direct_rs


def test_stateful_streaming_hll(spark, tmp_path):
    """applyInPandasWithState per-key HLL: final emitted estimates match a
    batch HLL build over the same data."""
    from gopie_spark.sources.pages import generate_pages
    from gopie_spark.streaming.stateful import streaming_hll_estimates
    from gopie_spark.operators import hll_count_distinct

    src = str(tmp_path / "src")
    generate_pages(src, 1500, n_files=3, seed=13)
    df_all = spark.read.parquet(src)

    stream = spark.readStream.schema(df_all.schema).parquet(src) \
        .select("lang", "url")
    out = streaming_hll_estimates(stream, "lang", "url", p=12)
    sink = str(tmp_path / "sink")
    q = (out.writeStream.format("memory").queryName("hll_stream")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from hll_stream").collect()
    # keep the last emission per key (Update mode re-emits)
    last = {}
    for r in rows:
        if r["lang"] not in last or r["n_batches"] > last[r["lang"]]["n_batches"]:
            last[r["lang"]] = r
    batch = {r["lang"]: r["approx_distinct"]
             for r in hll_count_distinct(df_all, "url", keys=["lang"],
                                         p=12).collect()}
    got = {k: v["approx_distinct"] for k, v in last.items()}
    assert got == batch


@pytest.mark.parametrize("width_s,slide_s", [
    (600, 100), (600, 300), (900, 90), (1200, 150), (3600, 450),
    (120, 60),
])
def test_sliding_engines_byte_equal_random_geometries(spark, width_s,
                                                      slide_s):
    """Seeded-random timestamps (pre-epoch, sparse, clustered, null)
    across a spread of width/slide geometries: the two engines must
    stay byte-identical everywhere — the auto heuristic may pick
    either, so both must always be safe."""
    import random
    rng = random.Random(width_s * 7919 + slide_s)
    rows = [(rng.randint(-3 * width_s, 10 * width_s), i)
            for i in range(200)]
    df = spark.createDataFrame(rows, "epoch long, user_id long") \
        .select(F.timestamp_seconds("epoch").alias("ts"), "user_id") \
        .unionByName(spark.createDataFrame(
            [(None, 999)], "ts timestamp, user_id long"))
    hll = HLL(p=8)
    a = windowed_sketch_agg(df, "ts", "user_id", hll,
                            width_s=width_s, slide_s=slide_s,
                            engine="panes")
    b = windowed_sketch_agg(df, "ts", "user_id", hll,
                            width_s=width_s, slide_s=slide_s,
                            engine="explode")
    sa = {r["window_start"]: bytes(r[STATE_COL]) for r in a.collect()}
    sb = {r["window_start"]: bytes(r[STATE_COL]) for r in b.collect()}
    assert sa == sb and None not in sa and len(sa) > 0


def test_unknown_engine_rejected_for_tumbling_windows(spark, events):
    with pytest.raises(ValueError, match="unknown engine"):
        windowed_sketch_agg(events, "ts", "user_id", HLL(p=8),
                            width_s=3600, engine="typo")


@pytest.mark.parametrize("kind", ["tdigest", "kll"])
def test_sliding_engines_quantiles_within_rank_error(spark, kind):
    """TDigest and KLL are not byte-stable across merge orders, so the
    two sliding engines are only estimate-equivalent for them: in every
    window, each engine's quantiles sit within the kernel's published
    rank error (t-digest ~1-2% at delta=100, KLL ``kll_eps(k)``) of the
    exact quantile, plus the 1/n granularity of a finite window."""
    from gopie_spark.kernels import KLL, TDigest
    from gopie_spark.operators.drift import kll_eps
    sk, eps = ((TDigest(delta=100), 0.02) if kind == "tdigest"
               else (KLL(k=64), kll_eps(64)))
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    # 8 hours, one event a second; values from a hash so every window
    # holds a different, unsorted multiset
    df = spark.range(8 * 3600).select(
        F.timestamp_seconds("id").alias("ts"),
        (F.abs(F.hash("id")) % 100_000 / 7.0).alias("v"))
    rows = df.select(F.unix_timestamp("ts").alias("t"), "v").collect()
    t = np.array([r["t"] for r in rows])
    v = np.array([r["v"] for r in rows])
    windows = {}
    for engine in ("panes", "explode"):
        out = windowed_sketch_agg(df, "ts", "v", sk, width_s=3600,
                                  slide_s=900, engine=engine)
        windows[engine] = {
            r["w"]: sk.quantile(sk.deserialize(bytes(r[STATE_COL])), qs)
            for r in out.select(F.unix_timestamp("window_start").alias("w"),
                                STATE_COL).collect()}
    assert set(windows["panes"]) == set(windows["explode"])
    assert len(windows["panes"]) == 8 * 4 + 3
    for w in windows["panes"]:
        exact = np.sort(v[(t >= w) & (t < w + 3600)])
        n = len(exact)
        slack = eps + 1.0 / n
        for engine, ests in windows.items():
            for q, est in zip(qs, ests[w]):
                lt = np.searchsorted(exact, est, side="left") / n
                le = np.searchsorted(exact, est, side="right") / n
                assert lt - slack <= q <= le + slack, (engine, w, q)
