"""jobs/daily_update.py — the day-N incremental loop end to end: curate
-> history-aware near-dup dedup -> day store -> serving-store fold ->
cube extension -> drift report, with re-run refusal.

The scenario plants exact cross-day duplicates (day-2 re-crawls of
day-1 texts under new urls) and asserts they die against the signature
store, then checks the SERVING artifacts answer questions about the
two-day union without any rescan."""

import json
import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "jobs"))

def _pages_from_documents(docs):
    """documents rows reshaped to the pages contract (url, text, lang) —
    the generator's synthetic pages fail the C4/Gopher quality rules
    wholesale (no stopwords/sentence punctuation), so this scenario
    builds its days from the realistic documents table instead."""
    return docs.select(
        F.concat(F.lit("http://docs.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text", "lang")


@pytest.fixture(scope="module")
def two_days(tmp_path_factory, spark):
    root = tmp_path_factory.mktemp("daily")
    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .orderBy("doc_id"))
    d1 = str(root / "day1")
    _pages_from_documents(docs.limit(300)).coalesce(2) \
        .write.mode("overwrite").parquet(d1)
    fresh2 = str(root / "day2_fresh")
    _pages_from_documents(docs.orderBy(F.desc("doc_id")).limit(200)) \
        .coalesce(2).write.mode("overwrite").parquet(fresh2)
    return root, d1, fresh2


def _plant_day2(spark, state, root, fresh2):
    """Day 2 = 200 fresh docs + 80 re-crawls of day-1 SURVIVORS under
    new urls."""
    survivors = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-01"))
    cols = spark.read.parquet(fresh2).columns
    recrawl = (survivors.orderBy("url").limit(80)
               .withColumn("url", F.concat(F.lit("http://recrawl.example/"),
                                           F.xxhash64("url").cast("string")))
               .select(*cols))
    spark.read.parquet(fresh2).unionByName(recrawl) \
        .write.mode("overwrite").parquet(str(root / "day2_planted"))
    return str(root / "day2_planted")


def test_daily_update_two_day_scenario(spark, tmp_path, two_days):
    from daily_update import run_daily
    from gopie_spark.operators.store import SketchStore

    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")

    acct1 = run_daily(spark, d1, state, "2026-01-01",
                      bloom_n=100_000, hll_p=12, min_tokens=3,
                      time_windows=True, window_horizon=30)
    assert acct1["input_rows"] == 300
    assert acct1["day_docs"] > 0
    assert os.path.exists(os.path.join(state, "_applied", "2026-01-01"))
    assert os.path.exists(
        os.path.join(state, "accounting", "2026-01-01.json"))
    # day 1 store == serving store
    store = SketchStore(os.path.join(state, "store"))
    a1 = store.distinct_urls()
    assert abs(a1.value - acct1["day_docs"]) <= \
        4 * 1.04 / 2 ** 6 * acct1["day_docs"] + 5

    # re-running an applied date is refused (linear-state double-count)
    with pytest.raises(SystemExit, match="already applied"):
        run_daily(spark, d1, state, "2026-01-01",
                  bloom_n=100_000, hll_p=12, min_tokens=3)
    # ... even when a crash lost the state-level mirror marker: the
    # in-store marker committed atomically with the fold's swap
    mirror = os.path.join(state, "_applied", "2026-01-01")
    os.remove(mirror)
    with pytest.raises(SystemExit, match="already applied"):
        run_daily(spark, d1, state, "2026-01-01",
                  bloom_n=100_000, hll_p=12, min_tokens=3)
    with open(mirror, "w") as fh:
        fh.write("{}")

    # ---- day 2 with planted re-crawls of day-1 survivors ----
    d2 = _plant_day2(spark, state, root, fresh2)

    # simulate a crash INSIDE _swap_dir's two-rename window (live store
    # gone, only .old left) — day 2 must heal it, not reinit as day 1
    import shutil as _sh
    os.rename(os.path.join(state, "store"),
              os.path.join(state, "store.old"))
    # and a drift dir for a date that was never applied (crashed and
    # abandoned run) — day 2 must NOT diff against it
    _sh.copytree(os.path.join(state, "drift", "2026-01-01"),
                 os.path.join(state, "drift", "2026-01-01x"))

    acct2 = run_daily(spark, d2, state, "2026-01-02",
                      bloom_n=100_000, hll_p=12, min_tokens=3,
                      time_windows=True, window_horizon=30)
    assert acct2["recovered_swaps"] == [
        {"restored": os.path.join(state, "store")}]

    # every planted re-crawl is an exact near-dup of a STORED doc ->
    # identical MinHash signatures -> all dropped against history
    day2_docs = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-02"))
    assert day2_docs.where(
        F.col("url").startswith("http://recrawl.example/")).count() == 0
    assert acct2["near_dup_dropped"] >= 80

    # the serving store now answers for the two-day union
    union = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-01")).unionByName(
        day2_docs)
    n_union = union.count()
    store = SketchStore(os.path.join(state, "store"))
    band = 4 * 1.04 / 2 ** 6
    got = store.distinct_urls()
    assert abs(got.value - n_union) <= band * n_union + 5
    # per-lang subset answers stay in band too
    langs = [r["lang"] for r in union.select("lang").distinct().collect()]
    sub = langs[: max(1, len(langs) // 2)]
    n_sub = union.where(F.col("lang").isin(sub)).count()
    got_sub = store.distinct_urls(langs=sub)
    assert abs(got_sub.value - n_sub) <= band * n_sub + 5

    # membership: curated urls from BOTH days probe present
    probe = [r["url"] for r in union.orderBy("url").limit(50).collect()]
    ans = store.maybe_contains_urls(probe)
    assert all(ans.value[u] for u in probe)

    # the folded window sketches answer TIME questions: distinct urls
    # crawled since a cutoff between the two days == day-2 docs (the
    # ts-less input got warc_ts = the day label)
    assert acct2["store_merge"]["sliding_hll_url.bin"] == "merged"
    assert acct2["store_merge"]["window_cms_tokens.bin"] == "merged"
    import datetime as _dt
    cutoff = _dt.datetime(2026, 1, 1, 12).timestamp()
    n_day2 = day2_docs.count()
    since = store.distinct_urls_since(cutoff)
    assert abs(since.value - n_day2) <= since.bound * n_day2 + 5
    # trailing-1-tick token frequency: within the window-CMS overcount
    # band of the exact day-2 count (never under)
    tok2 = (day2_docs.select(F.explode(F.split(F.lower("text"),
                                               r"\s+")).alias("t"))
            .where("t != ''").groupBy("t").count()
            .orderBy(F.desc("count"), "t").first())
    wf = store.token_freq([tok2["t"]], window_ticks=1)
    assert tok2["count"] <= wf.value[tok2["t"]] <= tok2["count"] + wf.bound

    # CMS token frequency >= exact count over the union (never under)
    tok = (union.select(F.explode(F.split(F.lower("text"),
                                          r"\s+")).alias("t"))
           .where("t != ''").groupBy("t").count()
           .orderBy(F.desc("count")).first())
    est = store.token_freq([tok["t"]])
    assert est.value[tok["t"]] >= tok["count"]

    # cube: whole-corpus rollup from (lang, day) cells within band,
    # and both day partitions exist
    from gopie_spark.operators.cube import load_sketch_cube, rollup
    cells, kern, dims = load_sketch_cube(
        spark, os.path.join(state, "cube"))
    assert dims == ["lang", "day"]
    days = sorted(str(r["day"]) for r in cells.select("day").distinct()
                  .collect())  # partition discovery may infer date type
    assert days == ["2026-01-01", "2026-01-02"]
    st = rollup(cells, [], kern).collect()[0]["sketch_state"]
    est_cube = kern.count(kern.deserialize(bytes(st)))
    assert abs(est_cube - n_union) <= band * n_union + 5

    # drift: day 2 diffed against day 1 — the newest APPLIED date, not
    # the planted never-applied 2026-01-01x dir
    assert acct2["drift_vs"] == "2026-01-01"
    for key in ("urls", "tokens", "length"):
        assert key in acct2["drift"], acct2["drift"].keys()

    # a day run WITHOUT --time-windows must refuse to fold (the merge
    # would silently drop both accumulated window states) and leave the
    # serving store + markers untouched.  The day needs genuinely NEW
    # docs (keep-first url conflation empties a re-crawl-only day, and
    # an empty day never reaches the fold): reversed-word texts under
    # fresh urls defeat both the url probe and the shingle signatures
    d3 = str(tmp_path / "day3_new")
    (spark.read.parquet(d1).limit(100)
     .withColumn("url", F.concat(F.lit("http://new3.example/"),
                                 F.xxhash64("url").cast("string")))
     .withColumn("text", F.array_join(F.reverse(F.split("text", " ")),
                                      " "))
     .write.mode("overwrite").parquet(d3))
    meta_before = open(os.path.join(state, "store",
                                    "_store_meta.json")).read()
    with pytest.raises(SystemExit, match="time-windows"):
        run_daily(spark, d3, state, "2026-01-03",
                  bloom_n=100_000, hll_p=12, min_tokens=3,
                  time_windows=False)
    assert open(os.path.join(state, "store",
                             "_store_meta.json")).read() == meta_before
    assert not os.path.exists(os.path.join(state, "_applied",
                                           "2026-01-03"))
    assert not os.path.exists(os.path.join(state, "store", "_applied",
                                           "2026-01-03"))
    assert not os.path.exists(os.path.join(state, "store.next"))
    # the pre-flight refusal fires before ANY mutation: no curated day,
    # no sig-store batch, no cube cells for the refused day
    assert not os.path.exists(os.path.join(state, "curated",
                                           "day=2026-01-03"))
    assert not os.path.exists(os.path.join(state, "sig_store",
                                           "batch=2026-01-03"))

    # accounting JSON on disk matches the returned dict
    with open(os.path.join(state, "accounting", "2026-01-02.json")) as fh:
        assert json.load(fh)["day_docs"] == acct2["day_docs"]

    # ---- disaster recovery: rebuild every serving artifact from the
    # curated days (the remedy the fold refusal names).  Plant a
    # curated-but-unapplied day 3 (what a run crashed AFTER stage 2
    # leaves behind) — curated days are the source of truth, so the
    # rebuild REPAIRS the aborted day into the store
    (spark.read.parquet(d3)
     .withColumn("warc_ts", F.lit("2026-01-03").cast("timestamp"))
     .write.mode("overwrite").parquet(
         os.path.join(state, "curated", "day=2026-01-03")))
    from rebuild_store import run_rebuild
    racct = run_rebuild(spark, state, bloom_n=100_000, hll_p=12,
                        time_windows=True, window_horizon=30,
                        band_index=True)
    assert racct["days"] == ["2026-01-01", "2026-01-02", "2026-01-03"]
    assert racct["band_index"]["covered_batches"] == racct["days"]

    all_days = (spark.read.parquet(os.path.join(state, "curated"))
                .select("url", "text", "lang"))
    n_all = all_days.count()
    store = SketchStore(os.path.join(state, "store"))
    got = store.distinct_urls()
    assert abs(got.value - n_all) <= band * n_all + 5
    ans = store.maybe_contains_urls(probe)
    assert all(ans.value[u] for u in probe)
    n_since = n_all - acct1["day_docs"]  # days 2 and 3 are past cutoff
    since = store.distinct_urls_since(cutoff)
    assert abs(since.value - n_since) <= since.bound * n_since + 5

    # applied markers restored -> re-running an applied day still
    # refused, INCLUDING the repaired day 3
    for day in ("2026-01-01", "2026-01-03"):
        with pytest.raises(SystemExit, match="already applied"):
            run_daily(spark, d1, state, day,
                      bloom_n=100_000, hll_p=12, min_tokens=3,
                      time_windows=True, window_horizon=30)

    # the rebuilt signature store still kills re-crawls of history:
    # day 4 = re-crawls of day-1 survivors under fresh urls
    survivors = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-01"))
    d4 = str(tmp_path / "day4")
    (survivors.orderBy("url").limit(40)
     .withColumn("url", F.concat(F.lit("http://again.example/"),
                                 F.xxhash64("url").cast("string")))
     .select("url", "text", "lang")
     .write.mode("overwrite").parquet(d4))
    acct4 = run_daily(spark, d4, state, "2026-01-04",
                      bloom_n=100_000, hll_p=12, min_tokens=3,
                      time_windows=True, window_horizon=30)
    # the day auto-used the rebuilt band index (zero-shuffle history
    # probe) and the re-crawls still died against it
    assert acct4["band_index"] is True
    day4_docs = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-04"))
    assert day4_docs.where(
        F.col("url").startswith("http://again.example/")).count() == 0
    assert acct4["day_docs"] == 0 or acct4["near_dup_dropped"] >= 40


def test_incremental_sig_store_partition_rerun_idempotent(spark, tmp_path):
    """A crashed-then-re-run batch must not duplicate signature rows:
    with ``store_partition`` the update overwrites its own partition,
    and the survivor set is identical across the re-run."""
    from gopie_spark.operators.dedup import incremental_minhash_dedup

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .orderBy("doc_id").limit(60)
            .select(F.col("doc_id").cast("string").alias("url"), "text"))
    store = str(tmp_path / "sigs")

    s1 = incremental_minhash_dedup(docs, store, id_col="url",
                                   store_partition="d1")
    ids1 = sorted(r["url"] for r in s1.select("url").collect())
    rows1 = spark.read.parquet(store).count()

    # re-run of the SAME batch (crash-after-store-update scenario)
    s1b = incremental_minhash_dedup(docs, store, id_col="url",
                                    store_partition="d1")
    assert sorted(r["url"] for r in s1b.select("url").collect()) == ids1
    assert spark.read.parquet(store).count() == rows1

    # a later batch lands in its own partition; history stays intact
    day2 = (spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet")
        .orderBy(F.desc("doc_id")).limit(40)
        .select((F.concat(F.lit("b:"), F.col("doc_id").cast("string")))
                .alias("url"), "text"))
    incremental_minhash_dedup(day2, store, id_col="url",
                              store_partition="d2")
    batches = {str(r["batch"]) for r in
               spark.read.parquet(store).select("batch").distinct()
               .collect()}
    assert batches == {"d1", "d2"}
    assert spark.read.parquet(f"{store}/batch=d1").count() == rows1


def test_incremental_sig_store_read_failures_surface(spark, tmp_path):
    """Only a MISSING signature store means 'first batch'; a store that
    exists but cannot be read (mixed partitioned/plain layout, corrupt
    file) must raise — treating it as empty would skip all history
    dedup and overwrite the store in append mode."""
    from gopie_spark.operators.dedup import incremental_minhash_dedup

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .orderBy("doc_id").limit(30)
            .select(F.col("doc_id").cast("string").alias("url"), "text"))
    store = str(tmp_path / "sigs")

    # plain (root-append) layout first; a partitioned update against
    # the same store is refused BEFORE writing (the mix would not even
    # fail loudly later — partition discovery silently drops the
    # root-level history), and so is the reverse direction
    incremental_minhash_dedup(docs, store, id_col="url")
    with pytest.raises(ValueError, match="mixing the layouts"):
        incremental_minhash_dedup(docs, store, id_col="url",
                                  store_partition="d2")
    pstore = str(tmp_path / "psigs")
    incremental_minhash_dedup(docs, pstore, id_col="url",
                              store_partition="d1")
    with pytest.raises(ValueError, match="mixing the layouts"):
        incremental_minhash_dedup(docs, pstore, id_col="url")

    # a corrupt store file must surface too
    bad = str(tmp_path / "bad_store")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not parquet at all")
    with pytest.raises(Exception):
        incremental_minhash_dedup(docs, bad, id_col="url")


def test_maybe_reindex_absorbs_deltas(spark, tmp_path):
    """The in-loop LSM compaction: below the budget it only reports the
    delta count; at the budget it rebuilds the index with its own
    recorded parameters and the post-rebuild probe still equals the
    index-free path."""
    from daily_update import maybe_reindex
    from gopie_spark.operators.dedup import (build_band_index,
                                             incremental_minhash_dedup)
    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .orderBy("doc_id"))

    def sl(lo, n):
        return docs.offset(lo).limit(n).select(
            F.concat(F.lit("http://docs.example/"),
                     F.col("doc_id").cast("string")).alias("url"),
            "text")

    store = str(tmp_path / "sigs")
    idx = str(tmp_path / "idx")
    incremental_minhash_dedup(sl(0, 40), store, id_col="url",
                              store_partition="d1")
    build_band_index(spark, store, idx, index_buckets=8)
    for d, lo in (("d2", 40), ("d3", 60)):
        incremental_minhash_dedup(sl(lo, 20), store, id_col="url",
                                  store_partition=d, band_index=idx)
    assert maybe_reindex(spark, store, idx, 3) == \
        {"band_index_deltas": 2}
    out = maybe_reindex(spark, store, idx, 2)
    assert out["band_index_rebuilt"]["absorbed"] == ["d2", "d3"]
    assert out["band_index_rebuilt"]["covered"] == 3
    # post-compaction probe: re-crawls of ABSORBED docs still die and
    # the result equals the index-free path
    rec = sl(40, 10).select(
        F.concat(F.lit("http://re.example/"),
                 F.xxhash64("url").cast("string")).alias("url"), "text")
    day = sl(80, 15).unionByName(rec)
    wi = incremental_minhash_dedup(day, store, id_col="url",
                                   update_store=False, band_index=idx)
    wo = incremental_minhash_dedup(day, store, id_col="url",
                                   update_store=False)
    got = sorted(r["url"] for r in wi.select("url").collect())
    assert got == sorted(r["url"] for r in wo.select("url").collect())
    assert not any(u.startswith("http://re.example/") for u in got)


def test_bad_date_label_refused_before_any_state(spark, tmp_path):
    """A non-round-tripping --date is refused BEFORE curate runs or
    any state directory is created."""
    from daily_update import run_daily
    state = str(tmp_path / "state")
    with pytest.raises(SystemExit, match="--date"):
        run_daily(spark, "/nonexistent/input", state, "2026-8-1")
    assert not os.path.exists(os.path.join(state, "curated"))


def test_force_rerun_of_covered_batch_bypasses_and_rebuilds(
        spark, tmp_path, two_days):
    """Re-running a day whose batch the band index already covers must
    not wedge on the already-folded refusal: the probe bypasses the
    index for that run and the index is rebuilt right after the
    commit, so the overwritten partition cannot go stale in the base."""
    from daily_update import run_daily
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    acct0 = run_daily(spark, d1, state, "2026-01-01")
    n_sigs0 = spark.read.parquet(
        os.path.join(state, "sig_store")).count()
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"), index_buckets=8)
    acct = run_daily(spark, d1, state, "2026-01-01", force=True)
    assert acct["band_index_bypassed"].startswith(
        "force replace of applied day 2026-01-01")
    assert "band_index_rebuilt" in acct
    assert acct["band_index_rebuilt"]["covered"] == 1
    # the deliberate replace must actually RE-PROCESS the day — the
    # serving store holds the day's own urls, so conflation is skipped
    # (probing it would land the day empty and silently wipe its
    # signature partition)
    assert acct["conflation_skipped"]
    assert acct["day_docs"] == acct0["day_docs"]
    assert spark.read.parquet(
        os.path.join(state, "sig_store")).count() == n_sigs0
    # and the NEXT day runs through the rebuilt index normally
    acct2 = run_daily(spark, fresh2, state, "2026-01-02",
                      reindex_every=5)
    assert acct2.get("band_index") is True
    assert acct2["band_index_deltas"] == 1


def test_rebuild_auto_rebuilds_existing_index(spark, tmp_path,
                                              two_days):
    """rebuild_store must rebuild an EXISTING band index even without
    --band-index: after --compact-sigs the old base covers batch names
    that no longer exist, so every rewritten partition would count as
    a delta and the daily probe would silently re-explode the whole
    store again.  The old index's own parameters are preserved."""
    from daily_update import run_daily
    from rebuild_store import run_rebuild
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    run_daily(spark, d1, state, "2026-01-01", bloom_n=100_000,
              hll_p=12)
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"), index_buckets=8)
    racct = run_rebuild(spark, state, bloom_n=100_000, hll_p=12,
                        compact_sigs=True)  # NO band_index flag
    assert racct["band_index_auto"]
    assert racct["band_index"]["covered_batches"] == ["base"]
    assert racct["band_index"]["index_buckets"] == 8
    # the next day probes through the rebuilt index with only its own
    # partition as delta
    acct2 = run_daily(spark, fresh2, state, "2026-01-02",
                      bloom_n=100_000, hll_p=12, reindex_every=9)
    assert acct2.get("band_index") is True
    assert acct2["band_index_deltas"] == 1


def test_force_rerun_uncovered_day_drops_stale_partition(
        spark, tmp_path, two_days):
    """A --force replace must drop the day's old sig_store partition
    even when the day is NOT in the band index's covered_batches (no
    index at all here): otherwise the day's previous self is probed
    as history and a changed replacement input (new urls, same texts)
    is wrongly dropped wholesale."""
    from daily_update import run_daily
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    acct0 = run_daily(spark, d1, state, "2026-01-01")
    assert acct0["day_docs"] > 0
    # changed replacement input: the same curated texts under entirely
    # new urls — every one a perfect near-dup of the day's previous self
    replaced = str(root / "day1_replaced")
    (spark.read.parquet(d1)
     .withColumn("url", F.concat(F.lit("http://replaced.example/"),
                                 F.xxhash64("url").cast("string")))
     .write.mode("overwrite").parquet(replaced))
    acct = run_daily(spark, replaced, state, "2026-01-01", force=True)
    # without the unconditional partition drop these all die vs history
    assert acct["day_docs"] == acct0["day_docs"]
    # and the store partition holds the NEW urls only
    part = spark.read.parquet(
        os.path.join(state, "sig_store", "batch=2026-01-01"))
    urls = [r._id for r in part.select("_id").collect()]
    assert urls and all(u.startswith("http://replaced.example/")
                        for u in urls)


def test_force_rerun_delta_day_with_index_drops_stale_partition(
        spark, tmp_path, two_days):
    """Same hazard through the index path: the day was applied AFTER
    the last index build, so its partition is an uncovered delta the
    indexed probe reads directly.  The force replace must still drop
    it before stage 2."""
    from daily_update import run_daily
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    run_daily(spark, d1, state, "2026-01-01")
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"), index_buckets=8)
    acct2 = run_daily(spark, fresh2, state, "2026-01-02")
    assert acct2["band_index"] is True and acct2["day_docs"] > 0
    replaced = str(root / "day2_replaced")
    (spark.read.parquet(fresh2)
     .withColumn("url", F.concat(F.lit("http://replaced2.example/"),
                                 F.xxhash64("url").cast("string")))
     .write.mode("overwrite").parquet(replaced))
    acct = run_daily(spark, replaced, state, "2026-01-02", force=True)
    # day-2 docs that genuinely near-dup DAY-1 history must still die,
    # but nothing may die against day-2's previous self
    assert acct["day_docs"] == acct2["day_docs"]
    part = spark.read.parquet(
        os.path.join(state, "sig_store", "batch=2026-01-02"))
    urls = [r._id for r in part.select("_id").collect()]
    assert urls and all(u.startswith("http://replaced2.example/")
                        for u in urls)


def test_needs_rebuild_flag_survives_crash_before_reindex(
        spark, tmp_path, two_days, monkeypatch):
    """De-covering a batch persists needs_rebuild in _index_meta.json;
    if the run dies before its post-commit rebuild, the NEXT run picks
    the flag up as reindex_force, and the rebuild's fresh meta clears
    it — the index base can never keep stale partition-less entries
    forever."""
    import daily_update as du
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    du.run_daily(spark, d1, state, "2026-01-01")
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"), index_buckets=8)
    # force re-run of the covered day, crashing at the reindex step
    real = du.maybe_reindex

    def boom(*a, **k):
        raise RuntimeError("crash before rebuild")
    monkeypatch.setattr(du, "maybe_reindex", boom)
    with pytest.raises(RuntimeError):
        du.run_daily(spark, d1, state, "2026-01-01", force=True)
    monkeypatch.setattr(du, "maybe_reindex", real)
    meta_p = os.path.join(state, "band_index", "_index_meta.json")
    with open(meta_p) as fh:
        m = json.load(fh)
    assert m.get("needs_rebuild") is True
    assert "2026-01-01" not in m["covered_batches"]
    # next (normal) day picks the flag up and rebuilds unconditionally
    acct2 = du.run_daily(spark, fresh2, state, "2026-01-02")
    assert acct2.get("band_index_needs_rebuild") is True
    assert "band_index_rebuilt" in acct2
    with open(meta_p) as fh:
        m2 = json.load(fh)
    assert "needs_rebuild" not in m2
    assert set(m2["covered_batches"]) == {"2026-01-01", "2026-01-02"}


def test_needs_rebuild_run_bypasses_stale_index(
        spark, tmp_path, two_days, monkeypatch):
    """A force REPLACE of a covered day dies before its post-commit
    rebuild: the index base still holds the day's superseded texts.
    The next run starts with needs_rebuild set and must probe history
    without the index — a new doc near-identical to a superseded text
    has no live match and must survive."""
    import daily_update as du
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    du.run_daily(spark, d1, state, "2026-01-01")
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"), index_buckets=8)
    old = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-01")) \
        .select("url", "text", "lang").orderBy("url").collect()
    # the replacement keeps only the first 100 survivors; the rest of
    # the day is superseded
    kept_urls = spark.createDataFrame([(r.url,) for r in old[:100]],
                                      "url string")
    replaced = str(root / "day1_halved")
    spark.read.parquet(d1).join(kept_urls, "url") \
        .write.mode("overwrite").parquet(replaced)
    real = du.maybe_reindex

    def boom(*a, **k):
        raise RuntimeError("crash before rebuild")
    monkeypatch.setattr(du, "maybe_reindex", boom)
    with pytest.raises(RuntimeError):
        du.run_daily(spark, replaced, state, "2026-01-01", force=True)
    monkeypatch.setattr(du, "maybe_reindex", real)
    # day 2: fresh docs + one near-identical copy of a superseded text
    gone = old[100]
    cols = spark.read.parquet(fresh2).columns
    planted = spark.createDataFrame(
        [("http://planted.example/0", gone.text + " again", gone.lang)],
        "url string, text string, lang string")
    d2 = str(root / "day2_superseded")
    spark.read.parquet(fresh2).unionByName(planted.select(*cols)) \
        .write.mode("overwrite").parquet(d2)
    acct2 = du.run_daily(spark, d2, state, "2026-01-02")
    day2 = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-02"))
    assert day2.where(F.col("url") == "http://planted.example/0") \
        .count() == 1
    assert acct2.get("band_index_needs_rebuild") is True
    assert acct2["band_index"] is False
    assert "band_index_bypassed" in acct2
    # the post-commit rebuild still ran and cleared the flag
    assert "band_index_rebuilt" in acct2
    with open(os.path.join(state, "band_index",
                           "_index_meta.json")) as fh:
        assert "needs_rebuild" not in json.load(fh)



def test_daily_loop_with_bbit_diet(spark, tmp_path, two_days):
    """--bbit rides the whole loop: day 1 builds the store, the index
    is built with packed words (bbit=1), and day 2's history probe
    (planted exact re-crawls) still kills every re-crawl — identical
    packed words estimate exactly 1.  The compaction rebuild keeps the
    recorded bbit."""
    from daily_update import run_daily
    from gopie_spark.operators.dedup import build_band_index
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    run_daily(spark, d1, state, "2026-01-01", bbit=1)
    build_band_index(spark, os.path.join(state, "sig_store"),
                     os.path.join(state, "band_index"),
                     index_buckets=8, bbit=1)
    d2 = _plant_day2(spark, state, root, fresh2)
    acct2 = run_daily(spark, d2, state, "2026-01-02", bbit=1,
                      reindex_every=0)
    assert acct2["band_index"] is True
    day2_docs = spark.read.parquet(
        os.path.join(state, "curated", "day=2026-01-02"))
    assert day2_docs.where(
        F.col("url").startswith("http://recrawl.example/")).count() == 0
    assert acct2["near_dup_dropped"] >= 80
    # the in-loop compaction rebuilt with the index's own bbit
    assert "band_index_rebuilt" in acct2
    with open(os.path.join(state, "band_index",
                           "_index_meta.json")) as fh:
        m = json.load(fh)
    assert m["bbit"] == 1
    assert set(m["covered_batches"]) == {"2026-01-01", "2026-01-02"}


def test_rebuild_crash_before_index_rebuild_flags_needs_rebuild(
        spark, tmp_path, two_days, monkeypatch):
    """run_rebuild rewrites the signature store and only then rebuilds
    the band index; a crash inside that window must leave
    needs_rebuild persisted so the next daily run rebuilds instead of
    probing a stale base covering vanished batch names."""
    import daily_update as du
    import rebuild_store as rs
    from gopie_spark.operators import dedup as dd
    root, d1, fresh2 = two_days
    state = str(tmp_path / "state")
    du.run_daily(spark, d1, state, "2026-01-01", bloom_n=100_000,
                 hll_p=12)
    dd.build_band_index(spark, os.path.join(state, "sig_store"),
                        os.path.join(state, "band_index"),
                        index_buckets=8)
    real = dd.build_band_index

    def boom(*a, **k):
        raise RuntimeError("crash before index rebuild")
    monkeypatch.setattr(dd, "build_band_index", boom)
    with pytest.raises(RuntimeError):
        rs.run_rebuild(spark, state, bloom_n=100_000, hll_p=12,
                       compact_sigs=True)
    monkeypatch.setattr(dd, "build_band_index", real)
    meta_p = os.path.join(state, "band_index", "_index_meta.json")
    with open(meta_p) as fh:
        m = json.load(fh)
    assert m.get("needs_rebuild") is True
    # the store WAS rewritten (compacted) under the crashed rebuild
    assert os.path.exists(
        os.path.join(state, "sig_store", "batch=base"))
    # next daily run picks the flag up, rebuilds, and the flag clears
    acct2 = du.run_daily(spark, fresh2, state, "2026-01-02",
                         bloom_n=100_000, hll_p=12)
    assert acct2.get("band_index_needs_rebuild") is True
    assert "band_index_rebuilt" in acct2
    with open(meta_p) as fh:
        m2 = json.load(fh)
    assert "needs_rebuild" not in m2
    assert set(m2["covered_batches"]) == {"base", "2026-01-02"}
