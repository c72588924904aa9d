#!/usr/bin/env python
"""Daily incremental crawl update — ONE entrypoint for the day-N loop.

A production corpus is not built once; a new crawl lands every day and
must flow through curation, history-aware dedup, and into the serving
artifacts WITHOUT rescanning history.  This job composes the library's
incremental paths end to end:

    cd /root/repo && zip -qr /tmp/gopie_spark.zip gopie_spark
    spark-submit --py-files /tmp/gopie_spark.zip jobs/daily_update.py \\
        --input /path/to/day_pages --state /path/to/state \\
        --date 2026-01-02 [--format parquet|warc] [--quarantine] \\
        [--max-text-len N] [--min-tokens 20] [--blocklist h1,h2] \\
        [--per-host-cap N] [--bloom-n N] [--hll-p 14] [--force] \\
        [--time-windows [--window-resolution SECS] [--window-horizon N]] \\
        [--reindex-every N]

Stages, in order (each one is the already-tested library path):

1. **Curate** the day's pages (jobs/filter_corpus.curate: quality rules,
   PII scrub, host blocklist/budget, exact within-day dedup; optional
   input-contract quarantine first, sources/quality.py), then
   **keep-first url conflation**: rows whose url the corpus already
   holds are dropped via a sharded-Bloom probe of the serving store
   (O(day) probe work, no history shuffle; ``--keep-known-urls``
   disables).
2. **Incremental near-dup dedup vs history** (operators/dedup.
   incremental_minhash_dedup): the day's survivors are compared against
   the corpus's signature store only — history text is never re-read,
   history pairs never re-expanded; survivors' signatures fold back in.
   A day left EMPTY by these stages just commits its applied marker +
   drift and touches no serving artifact.
3. **Write the day's documents** to ``<state>/curated/day=<date>/``.
4. **Build the day's sketch store** over those survivors
   (jobs/build_sketches.run_build: per-lang HLL, sharded Bloom, CMS;
   with ``--time-windows`` also the query-time window sketches —
   sliding HLL for any-suffix distinct urls, windowed CMS for
   trailing-window token frequencies; survivors gain a ``warc_ts``
   of the day label when the input has none, so ts-less crawls still
   window at daily resolution; resumable via its own checkpoint dir).
   ``--bloom-n`` (default 10^9 here) sizes membership filters for the
   PLANNED corpus capacity so every day's shards share one geometry
   and can merge.
5. **Fold into the serving store** (operators/store.merge_stores —
   ZERO Spark, KB-to-MB file IO): register-max / bit-OR / counter-add
   per artifact; day 1 simply becomes the store.
6. **Extend the (lang, day) HLL url cube** (jobs/sketch_cube.run_cube
   ``merge_into``) — any lang x day-range rollup stays a merge-only
   read.
7. **Persist the day's drift states and diff against the previous
   day** (operators/drift): the crawl-over-crawl report (url overlap,
   token movers, length KS, lang share) from KB-sized states.
8. **Write the accounting JSON** to ``<state>/accounting/<date>.json``.

State directory layout::

    <state>/curated/day=<date>/   surviving documents per day
    <state>/sig_store/            MinHash signatures of the corpus
    <state>/store/                serving SketchStore (query_sketches.py)
    <state>/cube/                 (lang, day) url cube (sketch_cube.py)
    <state>/drift/<date>/         per-day drift states (snapshot_diff.py)
    <state>/accounting/<date>.json
    <state>/_applied/<date>       commit marker (see below)

Re-run safety: the serving-store fold adds LINEAR states (CMS counters),
so applying one day twice would double-count token frequencies.  The
commit marker therefore travels WITH the fold: it is placed inside the
merged store before the atomic swap (and mirrored to
``<state>/_applied/`` after), and startup checks both locations — a
crash anywhere around the swap leaves either no fold or a fold plus
its marker, never a folded-but-unmarked store.  Re-running an applied
date is refused (``--force`` overrides for a state dir you are
rebuilding).  A run killed BEFORE the fold re-runs cleanly: every
earlier stage overwrites its own day-keyed outputs (the signature
store is day-partitioned, so its update is overwrite-idempotent; the
day store and its checkpoint start clean each attempt, because stage 2
rewrites the day dir with fresh part-file names and SketchCheckpoint
refuses to resume over a changed listing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

_JOBS_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_JOBS_DIR))
sys.path.insert(0, _JOBS_DIR)  # sibling jobs (filter_corpus, ...)


def _swap_dir(new_dir: str, live_dir: str) -> None:
    """Replace ``live_dir`` with ``new_dir`` (rename-aside, then rename
    in, then drop the old copy — the window without a live dir is two
    renames, and the old copy survives any crash before the final rm).
    A crash inside that window is healed by :func:`_recover_swaps` on
    the next run."""
    old = live_dir + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(live_dir):
        os.rename(live_dir, old)
    os.rename(new_dir, live_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def _recover_swaps(state: str) -> list:
    """Heal any swap a previous run crashed inside: a ``<live>.old``
    with no live dir means the crash hit between _swap_dir's two
    renames — restore the old copy (the fold simply re-runs); a
    leftover ``.old`` NEXT TO a live dir means the swap finished but
    the cleanup didn't — drop it.  Without this, a re-run would find
    no serving store/cube and silently reinitialize it as day 1,
    losing all prior days."""
    healed = []
    for live in (os.path.join(state, "store"), os.path.join(state, "cube"),
                 os.path.join(state, "sig_store")):
        old = live + ".old"
        if os.path.exists(old) and not os.path.exists(live):
            os.rename(old, live)
            healed.append({"restored": live})
        elif os.path.exists(old):
            shutil.rmtree(old)
            healed.append({"dropped_stale": old})
    return healed


def maybe_reindex(spark, sig_store: str, band_index: str,
                  reindex_every: int) -> dict:
    """LSM compaction for the daily loop: when the signature store has
    accumulated ``reindex_every`` or more partitions the band index
    does not cover (``0`` = rebuild unconditionally), rebuild the
    index (with its OWN recorded parameters) so the per-day delta
    work resets to zero.  Runs AFTER the day commits; the build
    writes a fresh index VERSION and commits it by the atomic meta
    swap (operators/dedup._commit_index_meta), so a crash mid-rebuild
    leaves the previous version fully intact.  Returns the accounting
    fragment."""
    from gopie_spark.operators.dedup import (_list_batch_partitions,
                                             build_band_index,
                                             load_band_index)
    _, imeta = load_band_index(spark, band_index)
    delta = sorted(set(_list_batch_partitions(spark, sig_store))
                   - set(imeta["covered_batches"]))
    if len(delta) < reindex_every:
        return {"band_index_deltas": len(delta)}
    meta = build_band_index(
        spark, sig_store, band_index, k=imeta["k"],
        bands=imeta["bands"], max_bucket=imeta["max_bucket"],
        index_buckets=imeta["index_buckets"],
        bbit=imeta.get("bbit"))
    return {"band_index_rebuilt": {"absorbed": delta,
                                   "covered": len(meta["covered_batches"])}}


def run_daily(spark, input_path: str, state: str, date: str, *,
              fmt: str = "parquet", quarantine: bool = False,
              max_text_len=None, min_tokens: int = 20, blocklist=None,
              per_host_cap=None, bloom_n: int = 1_000_000_000,
              hll_p: int = 14, threshold: float = 0.8,
              bbit=None,
              time_windows: bool = False,
              window_resolution: float = 86400.0,
              window_horizon: int = 365,
              keep_known_urls: bool = False,
              preflight: bool = False,
              reindex_every=None,
              force: bool = False) -> dict:
    """The whole daily update as a library call; ``main`` is the CLI
    twin.  Returns the accounting dict."""
    from pyspark.sql import functions as F
    from gopie_spark.kernels import HLL
    from gopie_spark.operators.dedup import incremental_minhash_dedup
    from gopie_spark.operators.drift import (drift_report_from_states,
                                             load_drift_states,
                                             persist_drift_states)
    from gopie_spark.operators.store import merge_stores
    from gopie_spark.sources.catalog import load_table
    from filter_corpus import curate  # noqa: E402 (jobs/ sibling)
    from build_sketches import run_build  # noqa: E402
    from sketch_cube import run_cube  # noqa: E402

    t0 = time.perf_counter()
    # refuse a non-round-tripping date label BEFORE any state mutation
    # (stage 2 would refuse it anyway, but only after a full curate
    # pass has burned and written quarantine/curated state)
    from gopie_spark.operators.dedup import _check_batch_label
    try:
        _check_batch_label(date)
    except ValueError as e:
        raise SystemExit(f"--date: {e}")
    marker = os.path.join(state, "_applied", date)
    # the in-store marker commits atomically with the fold's swap — it
    # is the authority; the state-level mirror is a convenience copy
    store_marker = os.path.join(state, "store", "_applied", date)
    reapplied = (os.path.exists(marker) or os.path.exists(store_marker))
    if reapplied and not force:
        raise SystemExit(
            f"date {date} already applied to {state} (the store fold is "
            "not idempotent for linear states); use a fresh --state or "
            "--force if you are deliberately rebuilding")
    reapplied = reapplied and force
    for sub in ("curated", "accounting", "_applied", "drift"):
        os.makedirs(os.path.join(state, sub), exist_ok=True)
    healed = _recover_swaps(state)

    pages = load_table(spark, input_path, fmt)
    missing = {"url", "text", "lang"} - set(pages.columns)
    if missing:
        raise SystemExit(f"--input is not a pages table: missing "
                         f"{sorted(missing)}")
    acct: dict = {"date": date}
    if healed:
        acct["recovered_swaps"] = healed

    # pre-flight: refuse a flag mismatch BEFORE any state mutation —
    # the stage-6 fold would refuse it anyway (one-sided artifacts),
    # but by then the cube and signature store have already committed
    # the day, leaving serving artifacts advertising an unapplied day
    serving = os.path.join(state, "store")
    if os.path.exists(os.path.join(serving, "_store_meta.json")):
        has_windows = os.path.exists(
            os.path.join(serving, "sliding_hll_url.bin"))
        if has_windows != time_windows:
            raise SystemExit(
                f"serving store was built "
                f"{'WITH' if has_windows else 'WITHOUT'} --time-windows "
                f"but this run is the opposite — folding would drop "
                "one-sided artifacts permanently; keep the flag "
                "consistent, or rebuild with jobs/rebuild_store.py to "
                "change it")

    # -- 1. curate (quality -> PII -> host -> exact within-day dedup).
    # Near-dup runs in stage 2 against history instead, so within-day
    # AND cross-day near-dups are handled by ONE signature pass.
    if quarantine:
        from gopie_spark.sources.quality import quarantine_to_dir
        pages, acct["quarantined"] = quarantine_to_dir(
            pages, os.path.join(state, "curated", f"_quarantine_{date}"),
            max_text_len=max_text_len)
    kept, curate_report = curate(
        spark, pages, min_tokens=min_tokens, blocklist=blocklist,
        per_host_cap=per_host_cap, dedup=True, near_dedup=False,
        id_col="url")
    acct["curate"] = curate_report
    # curate already counted its input — no extra scan (for WARC input
    # a count() is a full decode pass); quarantined rows add back in
    acct["input_rows"] = curate_report["input_rows"] + \
        sum(acct.get("quarantined", {}).values())

    # -- 1b. keep-first url conflation: drop day rows whose url is
    # already IN the corpus (a daily re-crawl of an unchanged page must
    # not re-enter the corpus; the near-dup stage cannot catch it —
    # identical url means identical id, which it excludes for re-run
    # idempotence).  Sharded-Bloom probe against the serving store:
    # O(day) probe work, no history shuffle; its false-positive rate
    # (store meta p, default 1e-3) wrongly drops that fraction of
    # genuinely-new urls — the standard membership tradeoff, disable
    # with keep_known_urls for a keep-every-crawl corpus.
    # A --force re-run of an ALREADY-APPLIED day must skip conflation:
    # the serving store contains that day's own urls, so probing it
    # would drop the entire day — stage 2 would then OVERWRITE the
    # day's signature partition with nothing (silent history loss)
    # and the fold would land an empty day.  The re-run is a
    # deliberate replace; the marker refusal's warning about linear
    # states double-counting in the fold still applies (rebuild_store
    # is the clean full remedy).
    conflate = not keep_known_urls and not reapplied
    serving_meta = os.path.join(serving, "_store_meta.json")
    if conflate and os.path.exists(serving_meta):
        from gopie_spark.operators.membership import bloom_shards_filter
        with open(serving_meta) as fh:
            smeta = json.load(fh)
        shard_states = spark.read.parquet(
            os.path.join(serving, "bloom_url_shards"))
        # n=None decodes each shard blob self-describingly — immune to
        # a meta bloom_n that no longer matches the blob geometry
        kept = bloom_shards_filter(
            spark, shard_states, kept, "url", n=None,
            shards=smeta["bloom_shards"], keep=False)
    elif reapplied and not keep_known_urls:
        acct["conflation_skipped"] = (
            f"force re-run of applied day {date}: the serving store "
            "holds this day's own urls")
    # one materialization of the (curated, conflated) day feeds the
    # count, the signature build, and the survivors write below
    kept = kept.persist()
    if conflate and os.path.exists(serving_meta):
        acct["known_url_dropped"] = \
            curate_report["output_rows"] - kept.count()

    # -- 2. incremental near-dup dedup vs the history signature store.
    # When a persisted band index exists (rebuild_store --band-index),
    # history is probed with a zero-shuffle bucketed scan + fresh
    # explode of only the post-index delta partitions, instead of
    # re-aggregating the whole store — the at-scale daily shape
    sig_store = os.path.join(state, "sig_store")
    band_index_dir = os.path.join(state, "band_index")
    reindex_force = False
    if not os.path.exists(os.path.join(band_index_dir,
                                       "_index_meta.json")):
        band_index_dir = None
        band_index = None
    else:
        band_index = band_index_dir
        acct["band_index"] = True
        with open(os.path.join(band_index_dir,
                               "_index_meta.json")) as fh:
            _imeta = json.load(fh)
        if _imeta.get("needs_rebuild"):
            # a previous run de-covered a batch (below) and died before
            # its post-commit rebuild: the index base still physically
            # holds that batch's old member ids/signatures.  The flag
            # persists the lost reindex_force across the crash; the
            # rebuild's _commit_index_meta publishes a fresh meta
            # without it, which is what clears it.
            reindex_force = True
            acct["band_index_needs_rebuild"] = True
            # the stale base can falsely kill a new doc near-identical
            # to a superseded text, and stage 2 commits that survivor
            # set before the rebuild: probe WITHOUT the index this run
            # (band_index_dir stays set, so the rebuild still runs)
            band_index = None
            acct["band_index"] = False
            acct["band_index_bypassed"] = (
                "index meta carries needs_rebuild from a crashed run: "
                "probe un-indexed, index rebuilt post-commit")
        if date in _imeta.get("covered_batches", []):
            # this day's batch is already inside the index base — a
            # --force re-run, or a day that crashed after its store
            # write and was absorbed by a later compaction.  The
            # already-folded guard would refuse mid-run; instead
            # REMOVE the date from covered_batches NOW (atomic meta
            # swap) so the partition counts as a delta no matter where
            # this run dies — stage 2's overwrite can never go stale
            # in the base — and rebuild the index after the commit.
            # needs_rebuild rides the same swap: if this run dies
            # before maybe_reindex, the next run (date no longer
            # covered) would otherwise probe THROUGH the index against
            # the base's stale, partition-less entries forever.
            from gopie_spark.operators.dedup import _write_index_meta
            _imeta["covered_batches"] = [
                b for b in _imeta["covered_batches"] if b != date]
            _imeta["needs_rebuild"] = True
            _write_index_meta(band_index_dir, _imeta)
            reindex_force = True
            if reapplied:
                # deliberate REPLACE of an applied day: probe WITHOUT
                # the index — its sigs layout still holds the old
                # signatures until the post-commit rebuild clears them.
                # (The stale partition itself is dropped below for
                # every reapplied run, covered or not.)
                band_index = None
                acct["band_index"] = False
                acct["band_index_bypassed"] = (
                    f"force replace of applied day {date}: old "
                    "partition dropped, probe un-indexed, index "
                    "rebuilt post-commit")
            else:
                # crashed-then-absorbed day, same input: the partition
                # (now a delta) probes THROUGH the index; identical
                # ids self-exclude, so the day's own prior write is
                # inert
                acct.setdefault("band_index_bypassed", (
                    f"batch {date} de-covered (now a delta); index "
                    "rebuilt post-commit"))
    if reapplied:
        # deliberate REPLACE of an applied day: its old signatures must
        # never act as history (a changed input would wrongly die
        # against the day's previous self).  Drop the partition
        # REGARDLESS of index coverage — with no index, or with the
        # day applied after the last index build, the old partition
        # would otherwise be probed directly (or read as an index-path
        # delta) even though it is being replaced.
        shutil.rmtree(os.path.join(sig_store, f"batch={date}"),
                      ignore_errors=True)
    day_sigs = None
    if preflight:
        # opt-in skew report over the DAY's signatures before the
        # candidate stage (history is never touched); the SAME
        # signature table then feeds stage 2 via new_sigs=, so the
        # k-linear build runs once, not twice
        from gopie_spark.operators.dedup import (add_minhash_signatures,
                                                 lsh_preflight_report)
        day_sigs = add_minhash_signatures(
            kept.select("url", "text"), "text", out_col="minhash") \
            .select(F.col("url").alias("_id"), "minhash").persist()
        acct["lsh_preflight"] = lsh_preflight_report(day_sigs)
    survivors = incremental_minhash_dedup(
        kept, sig_store, id_col="url", threshold=threshold,
        update_store=True, store_partition=date, band_index=band_index,
        bbit=bbit, new_sigs=day_sigs)
    day_dir = os.path.join(state, "curated", f"day={date}")
    if "warc_ts" not in survivors.columns:
        # the crawl day IS the event time at daily resolution — gives
        # the query-time window sketches (and any downstream temporal
        # consumer) a timestamp even for ts-less inputs
        survivors = survivors.withColumn(
            "warc_ts", F.lit(date).cast("timestamp"))
    survivors.write.mode("overwrite").parquet(day_dir)
    kept.unpersist()
    if day_sigs is not None:
        day_sigs.unpersist()
    n_day = spark.read.parquet(day_dir).count()
    acct["near_dup_dropped"] = (curate_report["output_rows"]
                                - acct.get("known_url_dropped", 0) - n_day)
    acct["day_docs"] = n_day

    # -- 3. the day's sketch store (planned-capacity blooms).  The
    # checkpoint buckets the build WITHIN this attempt, but cannot span
    # a re-run: stage 2 just rewrote day_dir with fresh part-file
    # names, so a crashed attempt's partials describe files that no
    # longer exist (SketchCheckpoint refuses that resume) — start clean.
    # A day that contributed NO new docs (every url already crawled,
    # every text a near-dup) skips the store/cube stages entirely and
    # just commits its marker + drift below.
    ckpt = os.path.join(state, f"ckpt_{date}")
    if os.path.exists(ckpt):
        shutil.rmtree(ckpt)
    day_store = os.path.join(state, f"store_day_{date}")
    if os.path.exists(day_store):
        # a refused/crashed attempt's store may carry artifacts the
        # current flags would not rebuild — stale blobs would then
        # re-trigger the fold's one-sided refusal forever
        shutil.rmtree(day_store)
    if n_day > 0:
        acct["day_store"] = run_build(spark, SimpleNamespace(
            input=day_dir, format="parquet",
            checkpoint=ckpt,
            output=day_store, hll_p=hll_p, salt=-1, n_buckets=32,
            resume_only=False, time_windows=time_windows,
            window_resolution=window_resolution,
            window_horizon=window_horizon,
            drift_states=False, drift_group_col=None, quarantine=False,
            max_text_len=max_text_len, bloom_n=bloom_n))

    # -- 4. drift states over the day's input as crawled (pre-curation,
    # post-quarantine: drift should see what the crawler saw, minus
    # contract-violating rows) + diff vs the previous APPLIED day.
    # Written to a tmp dir + renamed so a kill mid-persist never leaves
    # a partial state dir that would crash every later day's diff; the
    # diff partner is the newest APPLIED earlier date (a crashed-and-
    # abandoned day's drift dir must not be diffed against — that crawl
    # never entered the corpus)
    drift_dir = os.path.join(state, "drift", date)
    tmp_drift = drift_dir + ".tmp"
    if os.path.exists(tmp_drift):
        shutil.rmtree(tmp_drift)
    persist_drift_states(pages, tmp_drift)
    if os.path.exists(drift_dir):
        shutil.rmtree(drift_dir)
    os.rename(tmp_drift, drift_dir)
    applied = set(os.listdir(os.path.join(state, "_applied")))
    applied |= set(os.listdir(os.path.join(state, "store", "_applied"))) \
        if os.path.isdir(os.path.join(state, "store", "_applied")) else set()
    prev = sorted(d for d in os.listdir(os.path.join(state, "drift"))
                  if d < date and d in applied)
    if prev:
        acct["drift_vs"] = prev[-1]
        acct["drift"] = drift_report_from_states(
            load_drift_states(os.path.join(state, "drift", prev[-1])),
            load_drift_states(drift_dir))

    # -- 5. (lang, day) url cube, merge-only extension
    cube_dir = os.path.join(state, "cube")
    if n_day > 0:
        day_cells = (spark.read.parquet(day_dir)
                     .select("lang", F.lit(date).alias("day"), "url"))
        if os.path.exists(os.path.join(cube_dir, "_cube_meta.json")):
            cube_next = cube_dir + ".next"
            acct["cube"] = run_cube(spark, day_cells, ["lang", "day"],
                                    "url", HLL(p=hll_p), cube_next,
                                    partition_dim="day",
                                    merge_into=cube_dir)
            _swap_dir(cube_next, cube_dir)
        else:
            acct["cube"] = run_cube(spark, day_cells, ["lang", "day"],
                                    "url", HLL(p=hll_p), cube_dir,
                                    partition_dim="day")

    # -- 6. fold the day store into the serving store (zero Spark),
    # then commit the date marker — the ONLY non-idempotent mutation
    # happens here, last

    def _mark_applied(store_dir):
        # carry every previously-applied date forward, then this one —
        # the swap below commits fold AND marker in the same rename
        applied = os.path.join(store_dir, "_applied")
        prev_applied = os.path.join(serving, "_applied")
        if store_dir != serving and os.path.isdir(prev_applied):
            shutil.copytree(prev_applied, applied, dirs_exist_ok=True)
        os.makedirs(applied, exist_ok=True)
        with open(os.path.join(applied, date), "w") as fh:
            fh.write(json.dumps(
                {"applied_at_s": round(time.perf_counter() - t0, 3)}))

    if n_day == 0:
        # nothing to fold: the day is recorded as applied (its marker
        # blocks accidental re-runs) but the serving artifacts are
        # untouched
        acct["empty_day"] = True
        if os.path.exists(os.path.join(serving, "_store_meta.json")):
            _mark_applied(serving)
    elif os.path.exists(os.path.join(serving, "_store_meta.json")):
        merged = serving + ".next"
        if os.path.exists(merged):
            shutil.rmtree(merged)
        acct["store_merge"] = merge_stores(day_store, serving, merged)
        dropped = sorted(a for a, v in acct["store_merge"].items()
                         if v == "dropped_one_sided")
        if dropped:
            # committing would silently strip accumulated state (e.g.
            # --time-windows forgotten for one day drops every prior
            # day's window sketches, unrecoverable without a rebuild)
            shutil.rmtree(merged)
            raise SystemExit(
                f"refusing to fold day {date}: artifact(s) {dropped} "
                "exist on only one side, so the merged store would "
                "drop them permanently — re-run this day with the "
                "same build flags as the serving store (e.g. "
                "--time-windows), or rebuild the store from scratch "
                "if the flags are meant to change")
        _mark_applied(merged)
        _swap_dir(merged, serving)
        shutil.rmtree(day_store)
    else:
        _mark_applied(day_store)
        os.rename(day_store, serving)
    # state-level mirror (convenience; the in-store marker is authority)
    with open(marker, "w") as fh:
        fh.write(json.dumps({"applied_at_s": round(time.perf_counter()
                                                   - t0, 3)}))
    # the per-day checkpoint cannot outlive its day_dir contents (see
    # stage 3) — drop it now that the day is committed
    shutil.rmtree(ckpt, ignore_errors=True)

    # LSM compaction AFTER the commit: absorb accumulated delta
    # partitions back into the band index once they exceed the budget
    # (unconditionally when this run overwrote an already-folded batch
    # — the base would otherwise keep the stale copy forever)
    if reindex_force and band_index_dir is not None:
        acct.update(maybe_reindex(spark, sig_store, band_index_dir, 0))
    elif band_index is not None and reindex_every is not None:
        # 0 = rebuild unconditionally, matching maybe_reindex's contract
        acct.update(maybe_reindex(spark, sig_store, band_index,
                                  reindex_every))

    acct["seconds"] = round(time.perf_counter() - t0, 3)
    out = os.path.join(state, "accounting", f"{date}.json")
    with open(out + ".tmp", "w") as fh:
        json.dump(acct, fh)
    os.replace(out + ".tmp", out)
    return acct


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--date", required=True,
                    help="day label, lexicographically ordered "
                         "(e.g. 2026-01-02)")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--quarantine", action="store_true")
    ap.add_argument("--max-text-len", type=int, default=None)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--blocklist", default=None)
    ap.add_argument("--per-host-cap", type=int, default=None)
    ap.add_argument("--bloom-n", type=int, default=1_000_000_000)
    ap.add_argument("--hll-p", type=int, default=14)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--time-windows", action="store_true",
                    help="also build+fold the query-time window "
                         "sketches (sliding HLL / windowed CMS) so the "
                         "serving store answers trailing-window "
                         "questions; must be on from day 1 or the "
                         "fold drops them as one-sided")
    ap.add_argument("--window-resolution", type=float, default=86400.0)
    ap.add_argument("--window-horizon", type=int, default=365)
    ap.add_argument("--keep-known-urls", action="store_true",
                    help="keep day rows whose url is already in the "
                         "corpus (default: keep-first conflation — a "
                         "re-crawled url is dropped via a sharded-"
                         "Bloom probe of the serving store, wrongly "
                         "dropping ~p of genuinely-new urls)")
    ap.add_argument("--preflight", action="store_true",
                    help="embed the LSH bucket-skew report for the "
                         "day's signatures in the accounting (one "
                         "extra signature pass over the day)")
    ap.add_argument("--reindex-every", type=int, default=None,
                    help="after the day commits: rebuild the band "
                         "index once it lags the signature store by "
                         "this many delta partitions (LSM compaction "
                         "inside the loop; needs an existing index)")
    ap.add_argument("--bbit", type=int, default=None,
                    choices=(1, 2, 4, 8),
                    help="b-bit verification diet for the history "
                         "probe: candidates verify from packed b-bit "
                         "words (64/b-fold smaller signature fetch; "
                         "reads the packed column at rest when the "
                         "band index was built with the same --bbit). "
                         "The packed estimate is noisier: its standard "
                         "deviation (kernels.minhash.bbit_sigma) is "
                         "about 0.05 near --threshold 0.8 at b=1, "
                         "k=128, so pairs within ~0.05 of the "
                         "threshold can land on either side")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    from gopie_spark.plans import get_spark
    spark = get_spark("gopie-daily-update")
    acct = run_daily(
        spark, args.input, args.state, args.date, fmt=args.format,
        quarantine=args.quarantine, max_text_len=args.max_text_len,
        min_tokens=args.min_tokens,
        blocklist=args.blocklist.split(",") if args.blocklist else None,
        per_host_cap=args.per_host_cap, bloom_n=args.bloom_n,
        hll_p=args.hll_p, threshold=args.threshold,
        time_windows=args.time_windows,
        window_resolution=args.window_resolution,
        window_horizon=args.window_horizon,
        keep_known_urls=args.keep_known_urls, bbit=args.bbit,
        preflight=args.preflight, reindex_every=args.reindex_every,
        force=args.force)
    print(json.dumps(acct))
    spark.stop()


if __name__ == "__main__":
    main()
