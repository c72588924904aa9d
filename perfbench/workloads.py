"""The benchmark's workloads: ``daily`` and ``serve``.

Each workload function takes the run's ``Context`` and returns a dict
with ``setup_s``, ``throughput_per_s``, per-query-class latencies
(``lat``), ``peak_rss_mb``, ``attempted``/``failed`` and, on a traced
run, per-layer figures (``layers``).  Output checks are recorded on the
context.

- ``daily``: ``jobs/daily_update.run_daily`` for one day of pages with
  planted re-crawls into a state directory that already holds
  ``HISTORY_DAYS`` days, then the serving loop below, for the run's
  seconds, against the serving store the day folded.  The traced run
  adds the kernels alone and each sketch operator forced on its own,
  over a ``BUILD_PAGES`` table.
- ``serve``: a closed loop, one client, zero Spark, for the run's
  seconds: seeded ``SketchStore`` queries, each class in turn, over the
  serving store ``run_daily`` folded from the history days.

The history (``HISTORY_DAYS`` days through ``run_daily``) is program
output, so it is cached under the checkout keyed by a hash of the
program's sources and rebuilt whenever the program changes.  Building it
is untimed, in a Spark session of its own; whichever run first needs it
pays for it.
"""
from __future__ import annotations

import json
import os
import shutil
from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import kernels_alone
import oracle
import trace
from common import (Context, Speed, TreeRss, log, median, now,
                    peak_rss_mb, shutdown_spark, start_spark, warm_workers)

BUILD_PAGES = 3_000
DAY_PAGES = 1_000
HISTORY_DAYS = 2
HISTORY_SEED = 900_001
DATES = [f"2026-01-{d:02d}" for d in range(1, HISTORY_DAYS + 2)]
PLANNED_URLS = (HISTORY_DAYS + 1) * DAY_PAGES
SIZES = f"d{DAY_PAGES}x{HISTORY_DAYS}"
SETUP_REPEATS = 3
SERVE_SETUP_REPEATS = 15
SPEED_EVERY_S = 0.05
SPEED_SAMPLES = 3             # calibration runs before each serve set-up
DAY_SPEED_SAMPLES = 10        # calibration runs before and after the day
BATCH = 100                  # urls per membership probe, tokens per lookup
ABSENT_PROBES = 5000
FRESH_REASK = 20
KLL_QS = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
CLASSES = ["membership", "token_freq", "rollup"]
ROLLUP_SUBSETS = 5
OPERATORS = ["sketch_agg", "cms_build", "bloom_shards_build",
             "persist_drift_states", "incremental_minhash_dedup"]
# the kernels each operator drives, for kernel_share
OPERATOR_KERNELS = {"sketch_agg": ["hll"], "cms_build": ["cms"],
                    "bloom_shards_build": ["bloom"],
                    "persist_drift_states": ["theta", "kll", "countsketch",
                                             "misragries"],
                    "incremental_minhash_dedup": ["minhash"]}


def _new_result() -> dict:
    return {"setup_s": None, "throughput_per_s": None, "serve_qps": None,
            "lat": {}, "peak_rss_mb": None, "store_bytes": None,
            "attempted": 0, "failed": 0, "layers": {}, "op_s": None}


# -- Spark set-up -------------------------------------------------------------

def _spark_setup(ctx: Context, res: dict, event_log: Optional[str]):
    """Start the session ``SETUP_REPEATS`` times (the first also launches
    the JVM) with a worker warm-up each; ``setup_s`` is the median."""
    totals, starts, warms = [], [], []
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = now()
        spark = start_spark(ctx, event_log)
        t1 = now()
        warm_workers(spark)
        t2 = now()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        totals.append(t2 - t0)
    res["setup_s"] = median(totals)
    res["layers"].update({"plans.session_start_s": median(starts),
                          "plans.first_session_start_s": starts[0],
                          "plans.worker_warmup_s": median(warms)})
    log(f"setup {[round(x, 2) for x in totals]}")
    return spark


# -- inputs and anchors -------------------------------------------------------

def curated(state: str) -> pa.Table:
    """url, text, lang of every day's survivors in a run_daily state."""
    root = os.path.join(state, "curated")
    parts = [pq.read_table(os.path.join(root, d),
                           columns=["url", "text", "lang"])
             for d in sorted(os.listdir(root)) if d.startswith("day=")]
    return pa.concat_tables(parts)


class Anchors:
    """Exact answers over a set of documents (the rows a store holds)."""

    def __init__(self, table: pa.Table):
        urls = table.column("url").to_pylist()
        langs = table.column("lang").to_pylist()
        self.urls = sorted(set(urls))
        self.by_lang: Dict[str, set] = {}
        for u, lg in zip(urls, langs):
            self.by_lang.setdefault(lg, set()).add(u)
        self.langs = sorted(self.by_lang)
        self.tokens = oracle.cms_tokens(table.column("text"))

    def distinct(self, langs) -> int:
        return len(set().union(*(self.by_lang[lg] for lg in langs)))


def _absent_urls(rng: np.random.Generator, n: int) -> List[str]:
    return [f"https://absent{int(x)}.example.net/p{i}"
            for i, x in enumerate(rng.integers(0, 1 << 40, n))]


# -- history ------------------------------------------------------------------

def ensure_history(ctx: Context) -> str:
    """The cached run_daily state after ``HISTORY_DAYS`` days, built in a
    session of its own when missing (so the timed session starts fresh)."""
    hdir = os.path.join(ctx.cache, f"history-{ctx.code}-{SIZES}")
    if os.path.isdir(hdir):
        return hdir
    for old in os.listdir(ctx.cache):
        if old.startswith("history-"):
            shutil.rmtree(os.path.join(ctx.cache, old), ignore_errors=True)
    from daily_update import run_daily
    spark = start_spark(ctx)
    log("building the history state (once per program version)")
    work = hdir + f".build{os.getpid()}"
    state = os.path.join(work, "state")
    for d in range(HISTORY_DAYS):
        hist = curated(state) if d else None
        pages = gen.make_pages(os.path.join(work, "days", DATES[d]),
                               HISTORY_SEED + d, DAY_PAGES, f"h{d + 1}",
                               history=hist)
        run_daily(spark, pages, state, DATES[d], bloom_n=PLANNED_URLS)
    shutdown_spark(spark)
    os.rename(work, hdir)
    return hdir


# -- store queries ------------------------------------------------------------

def _ask(store, q):
    kind, arg = q
    if kind == "membership":
        return store.maybe_contains_urls(arg)
    if kind == "token_freq":
        return store.token_freq(arg)
    return [store.distinct_urls(langs) for langs in arg]


class QueryMaker:
    """Seeded queries over what a store holds (and what it does not).
    Each class costs the same whatever the seed: membership probes are
    half present, half absent urls; token lookups half frequent, 40%
    rare and 10% absent tokens; a rollup is a small report, distinct urls
    over ``ROLLUP_SUBSETS`` subsets of half the langs (the seed picks
    which)."""

    def __init__(self, rng, anchors: Anchors):
        self.rng = rng
        self.a = anchors
        self.present = np.array(anchors.urls, dtype=object)
        toks = list(anchors.tokens.items())
        self.tok = np.array([t for t, _ in toks], dtype=object)
        w = np.array([c for _, c in toks], dtype=np.float64)
        self.tok_p = w / w.sum()
        self.absent: List[str] = []

    def make(self, cls: str):
        r = self.rng
        if cls == "membership":
            half = BATCH // 2
            absent = _absent_urls(r, BATCH - half)
            self.absent += absent
            urls = list(r.choice(self.present, half, replace=False)) + absent
            return ("membership", [urls[i] for i in r.permutation(BATCH)])
        if cls == "token_freq":
            heavy = list(r.choice(self.tok, BATCH // 2, p=self.tok_p))
            rare = list(r.choice(self.tok, BATCH * 2 // 5))
            missing = [f"zzabsent{int(x)}" for x in
                       r.integers(0, 1 << 30, BATCH - len(heavy) - len(rare))]
            return ("token_freq", heavy + rare + missing)
        k = -(-len(self.a.langs) // 2)
        return ("rollup", [sorted(r.choice(self.a.langs, k, replace=False))
                           for _ in range(ROLLUP_SUBSETS)])


def geo_rate(lat: Dict[str, List[float]]) -> float:
    """Geometric mean over query classes of each class's rate (queries
    per second of store time) from its latencies in ms.  No traffic mix
    is assumed: every class counts equally, so a 2x slower class of any
    kind lowers the figure by a fifth."""
    rates = [len(v) / (sum(v) / 1e3) for v in lat.values()]
    return float(np.exp(np.mean(np.log(rates))))


def _timed_ask(store, q, answered: list) -> None:
    t = now()
    ans = _ask(store, q)
    answered.append((q, ans, (now() - t) * 1e3, t))


def serve_loop(ctx: Context, store_dir: str, qm: QueryMaker, res: dict,
               rec: trace.SpanRecorder) -> list:
    """Queries from one client, zero Spark, each sent when the previous
    answer is back: one query of each class in turn for ``ctx.seconds``.
    The calibration task runs between queries every ``SPEED_EVERY_S``;
    each latency is scaled by the samples within a second of it.
    Returns the answers, for the checks."""
    from gopie_spark.operators.store import SketchStore
    store = SketchStore(store_dir)
    speed = Speed()
    answered: list = []

    def ask(q):
        if not speed.times or now() - speed.times[-1] > SPEED_EVERY_S:
            speed.sample()
        with rec.span(f"store.{q[0]}"):
            _timed_ask(store, q, answered)

    for cls in CLASSES:   # untimed: the first probe of a store opens it
        _ask(store, qm.make(cls))
    t_start = now()
    i = 0
    while now() - t_start < ctx.seconds:
        ask(qm.make(CLASSES[i % len(CLASSES)]))
        i += 1
    speed.sample()
    res["attempted"] += len(answered)
    ref = [ms / speed.factor(t - 1.0, t + 1.0) for _, _, ms, t in answered]
    for ((kind, _), _, _, _), ref_ms in zip(answered, ref):
        res["lat"].setdefault(kind, []).append(ref_ms)
    res["serve_qps"] = geo_rate(res["lat"])
    res["store_bytes"] = _dir_bytes(store_dir)
    res["layers"]["trace.speed_factor"] = speed.factor()
    return answered


# -- checks -------------------------------------------------------------------

def check_answers(ctx: Context, answered: list, a: Anchors, qm: QueryMaker,
                  store_dir: str, where: str) -> None:
    """Every answered query against the exact anchors."""
    from gopie_spark.operators.store import SketchStore
    bloom_p = float(SketchStore(store_dir).meta["bloom_p"])
    absent = set(qm.absent)
    present, false_pos, n_absent, fpr_bound = {}, 0, 0, 0.0
    tok_est: Dict[str, int] = {}
    cms_bound, cms_delta = None, None
    hll: Dict[tuple, tuple] = {}
    for (kind, arg), ans, _, _ in answered:
        if kind == "membership":
            fpr_bound = max(fpr_bound, ans.bound or 0.0)
            for u, b in ans.value.items():
                if u in absent:
                    n_absent += 1
                    false_pos += int(b)
                else:
                    present[u] = b
        elif kind == "token_freq":
            tok_est.update(ans.value)
            cms_bound, cms_delta = ans.bound, ans.detail["delta"]
        else:
            for langs, d in zip(arg, ans):
                hll[tuple(langs)] = (d.value, a.distinct(langs), d.bound)
    if present:
        ctx.check(f"{where}.bloom_no_false_negative",
                  *oracle.check_no_false_negative(present))
    if n_absent:
        ctx.check(f"{where}.bloom_fpr", *oracle.check_fpr(
            false_pos, n_absent, max(bloom_p, fpr_bound)))
    if tok_est:
        toks = sorted(tok_est)
        ctx.check(f"{where}.cms", *oracle.check_cms(
            np.array([tok_est[t] for t in toks]),
            np.array([a.tokens.get(t, 0) for t in toks]),
            cms_bound, cms_delta))
    if hll:
        ctx.check(f"{where}.hll", *oracle.check_hll(list(hll.values())))


def check_store(ctx: Context, store_dir: str, a: Anchors, rng,
                where: str) -> None:
    """Exhaustive checks of a written store against its documents."""
    from gopie_spark.operators.store import SketchStore
    store = SketchStore(store_dir)
    p = float(store.meta["bloom_p"])
    ans = store.maybe_contains_urls(a.urls)
    ctx.check(f"{where}.bloom_all_inserted",
              *oracle.check_no_false_negative(ans.value))
    absent = _absent_urls(rng, ABSENT_PROBES)
    ab = store.maybe_contains_urls(absent)
    ctx.check(f"{where}.bloom_fpr_absent", *oracle.check_fpr(
        sum(ab.value.values()), len(absent), max(p, ab.bound or 0.0)))
    toks = sorted(a.tokens)
    tf = store.token_freq(toks)
    ctx.check(f"{where}.cms_all_tokens", *oracle.check_cms(
        np.array([tf.value[t] for t in toks]),
        np.array([a.tokens[t] for t in toks]), tf.bound,
        tf.detail["delta"]))
    hll = [(store.distinct_urls(None).value, len(a.urls),
            store.distinct_urls(None).bound)]
    for lg in a.langs:
        d = store.distinct_urls([lg])
        hll.append((d.value, len(a.by_lang[lg]), d.bound))
    ctx.check(f"{where}.hll_per_lang", *oracle.check_hll(hll))


def check_fresh_store(ctx: Context, store_dir: str, answered: list,
                      where: str) -> None:
    """A freshly opened store gives the same answers."""
    from gopie_spark.operators.store import SketchStore
    store = SketchStore(store_dir)
    again = answered[:FRESH_REASK]
    diff = [q for q, ans, _, _ in again
            if _values(_ask(store, q)) != _values(ans)]
    ctx.check(f"{where}.fresh_store_same_answers", not diff,
              f"{len(again)} queries re-asked, {len(diff)} differ")


def _values(ans):
    return [x.value for x in ans] if isinstance(ans, list) else ans.value


def _bytes_read(ans) -> int:
    return sum(x.bytes_read for x in ans) if isinstance(ans, list) \
        else ans.bytes_read


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def store_layers(answered: list, res: dict) -> Dict[str, float]:
    """``store.*`` figures from answered queries."""
    by: Dict[str, list] = {}
    for (kind, _), ans, ms, _ in answered:
        by.setdefault(kind, []).append((ms, ans))
    out: Dict[str, float] = {"store.bytes": res["store_bytes"]}
    for kind, rows in by.items():
        out[f"store.{kind}_ms"] = median([ms for ms, _ in rows])
        out[f"store.{kind}.bytes_read"] = median(
            [_bytes_read(a) for _, a in rows])
        if kind == "membership":
            out["store.membership.shards_probed"] = median(
                [a.detail["shards_probed"] for _, a in rows])
    return out


# -- traced-run helpers -------------------------------------------------------

def _event_log_layers(log_dir: str, prefix_map: Dict[str, str],
                      keys: Optional[Tuple[str, ...]] = None) -> dict:
    """Spark metrics per job group, renamed ``<metric prefix>.<metric>``."""
    groups = trace.merge_group_metrics(
        [trace.group_metrics(app) for app in trace.read_app_logs(log_dir)])
    out = {}
    for group, prefix in prefix_map.items():
        for k, v in groups.get(group, {}).items():
            if keys is None or k in keys:
                out[f"{prefix}.{k}"] = v
    return out


def _finish_trace(ctx: Context, rec: trace.SpanRecorder, res: dict,
                  traced_op_s: float) -> None:
    out = ctx.path("trace")
    os.makedirs(out, exist_ok=True)
    rec.write(os.path.join(out, "spans.jsonl"))
    table = trace.layer_table(rec.spans)
    with open(os.path.join(out, "layers.md"), "w") as fh:
        fh.write(table)
    keep = os.path.join(ctx.cache, "traces", f"{ctx.workload}-{ctx.seed}")
    shutil.rmtree(keep, ignore_errors=True)
    shutil.copytree(out, keep)
    log(f"spans and per-layer table written to {keep}\n{table}")
    ref = ctx.untraced_ref()
    res["layers"]["trace.spans"] = len(rec.spans)
    res["layers"]["trace.op_s"] = traced_op_s
    res["layers"]["trace.overhead_s"] = (traced_op_s - ref) \
        if ref is not None else 0.0
    if ref is None:
        log("no untraced run of this code recorded yet: "
            "trace.overhead_s reported as 0")


def run_operators(ctx: Context, spark, rec: trace.SpanRecorder,
                  pages_dir: str, pages_tbl: pa.Table, res: dict) -> None:
    """Layers b+c: each operator once over a ``BUILD_PAGES`` table, forced
    inside its span (a noop write or a collect); the outputs the
    operators return are checked against exact anchors."""
    from gopie_spark.kernels import HLL
    from gopie_spark.operators import cms_build, sketch_agg
    from gopie_spark.operators.dedup import incremental_minhash_dedup
    from gopie_spark.operators.drift import persist_drift_states
    from gopie_spark.operators.membership import bloom_shards_build
    from gopie_spark.plans.checkpoint import SketchCheckpoint

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    pages = spark.read.parquet(pages_dir)
    ckpt = SketchCheckpoint(ctx.path("op_ckpt"), HLL(p=14), ["lang"], "url")
    with rec.span("plans.checkpoint.run"):
        ckpt.run_until_complete(spark, pages_dir)
    with rec.span("plans.checkpoint.finalize"):
        noop(ckpt.finalize(spark))
    with rec.span("operators.sketch_agg"):
        noop(sketch_agg(pages, ["lang"], "url", HLL(p=14)))
    with rec.span("operators.cms_build"):
        cms, cms_st = cms_build(pages.select("text"), "text", tokenize=True)
    with rec.span("operators.bloom_shards_build"):
        noop(bloom_shards_build(pages.select("url"), "url",
                                n=pages_tbl.num_rows, p=0.001, shards=256))
    with rec.span("operators.persist_drift_states"):
        drift = persist_drift_states(pages, ctx.path("op_drift"))
    with rec.span("operators.incremental_minhash_dedup"):
        noop(incremental_minhash_dedup(
            pages.select("url", "text"), ctx.path("op_sigs"), id_col="url",
            store_partition="d1"))
    totals = trace.total_by_name(rec.spans)
    lay = res["layers"]
    for op in OPERATORS:
        lay[f"operators.{op}.s"] = totals[f"operators.{op}"]
    lay["plans.checkpoint.run_s"] = totals["plans.checkpoint.run"]
    lay["plans.checkpoint.finalize_s"] = totals["plans.checkpoint.finalize"]

    exact = oracle.cms_tokens(pages_tbl.column("text"))
    toks = sorted(exact)
    ctx.check("operators.cms_build", *oracle.check_cms(
        cms.estimate(cms_st, toks), np.array([exact[t] for t in toks]),
        cms.epsilon * cms.count(cms_st), cms.delta))
    with open(drift["lang"]) as fh:
        ctx.check("operators.persist_drift_states", *oracle.check_equal(
            "lang histogram", json.load(fh),
            oracle.histogram(pages_tbl.column("lang"))))


def _kernel_shares(lay: dict, n: int) -> None:
    """Layer-a seconds for an operator's rows / its summed task time."""
    for op, ks in OPERATOR_KERNELS.items():
        run_s = lay.get(f"operators.{op}.executor_run_s")
        if run_s:
            kernel_s = sum(n / lay[f"kernels.{k}.update_rows_per_s"]
                           for k in ks)
            lay[f"operators.{op}.kernel_share"] = kernel_s / run_s


# -- daily --------------------------------------------------------------------

_DAILY_WRAPS = [
    ("filter_corpus", "curate", "jobs.curate"),
    ("build_sketches", "run_build", "jobs.run_build"),
    ("sketch_cube", "run_cube", "jobs.run_cube"),
    ("gopie_spark.operators.drift", "persist_drift_states",
     "jobs.persist_drift_states"),
    ("gopie_spark.operators.dedup", "incremental_minhash_dedup",
     "jobs.incremental_minhash_dedup"),
    ("gopie_spark.operators.store", "merge_stores", "store.merge_stores"),
]


def _wrap_daily(rec: trace.SpanRecorder) -> list:
    """Span the module attributes ``run_daily`` resolves at call time."""
    import importlib
    return [rec.wrap(importlib.import_module(mod), attr, name)
            for mod, attr, name in _DAILY_WRAPS]


def daily(ctx: Context) -> dict:
    from daily_update import run_daily
    from gopie_spark.operators.drift import load_drift_states
    from gopie_spark.operators.store import SketchStore
    res = _new_result()
    hdir = ensure_history(ctx)
    elog = ctx.path("eventlog") if ctx.trace else None
    spark = _spark_setup(ctx, res, elog)
    state = ctx.path("state")
    shutil.copytree(os.path.join(hdir, "state"), state)
    history = curated(state)
    date = DATES[HISTORY_DAYS]
    day_dir = gen.make_pages(
        os.path.join(hdir, "days", f"op-s{ctx.seed}"), ctx.seed, DAY_PAGES,
        f"s{ctx.seed}", history=history.select(["url", "text"]))
    plants = gen.read_plants(day_dir)
    log("state copied, inputs ready")
    rec = trace.SpanRecorder(f"daily-{ctx.seed}", spark, ctx.trace)
    undo = _wrap_daily(rec) if ctx.trace else []
    res["attempted"] += 1
    # the day and the set-up are raw seconds.  The calibration task is
    # timed just before and just after the day, with the JVM idle, only
    # to report the host's speed (trace.speed_factor): its samples spread
    # more from run to run than the day's own time does
    speed = Speed()
    speed.burst(DAY_SPEED_SAMPLES)
    rss = TreeRss()
    rss.start()
    try:
        t0 = now()
        with rec.span("jobs.run_daily"):
            acct = run_daily(spark, day_dir, state, date,
                             bloom_n=PLANNED_URLS)
        op_s = now() - t0
    finally:
        for u in undo:
            u()
        rss.stop()
    speed.burst(DAY_SPEED_SAMPLES)
    op_factor = speed.factor()
    res["op_s"] = op_s
    res["throughput_per_s"] = DAY_PAGES / op_s
    res["peak_rss_mb"] = rss.peak_mb
    res["layers"]["trace.raw_op_s"] = op_s
    log(f"day {op_s:.2f}s speed factor {op_factor:.3f} peak tree RSS "
        f"{rss.peak_mb:.0f} MB accounting day_docs={acct['day_docs']}")

    day_in = pq.read_table(day_dir)
    day_out = pq.read_table(os.path.join(state, "curated", f"day={date}"),
                            columns=["url", "text"])
    survivors = curated(state)
    rng = np.random.default_rng([ctx.seed, 3])
    anchors = Anchors(survivors)
    qm = QueryMaker(rng, anchors)
    store_dir = os.path.join(state, "store")
    if ctx.trace:
        build_dir = gen.make_pages(
            os.path.join(ctx.cache, "inputs", f"build-s{ctx.seed}-n"
                         f"{BUILD_PAGES}-g{gen.GEN_VERSION}"),
            ctx.seed, BUILD_PAGES, f"b{ctx.seed}")
        build_tbl = pq.read_table(build_dir)
        res["layers"].update(kernels_alone.run(build_tbl))
        run_operators(ctx, spark, rec, build_dir, build_tbl, res)
    shutdown_spark(spark)
    rec.spark = None
    log("session stopped")
    # the store the day folded, probed with Spark down: an idle session's
    # background work slows single queries at random
    answered = serve_loop(ctx, store_dir, qm, res, rec)
    log("store probes done")

    out_urls = set(day_out.column("url").to_pylist())
    ctx.check("daily.day_docs", *oracle.check_equal(
        "day_docs vs curated rows", acct["day_docs"], day_out.num_rows))
    ctx.check("daily.input_rows", *oracle.check_equal(
        "input_rows", acct["input_rows"], DAY_PAGES))
    ctx.check("daily.survivors_subset", *oracle.check_subset(
        "curated (url, text) rows",
        zip(day_out.column("url").to_pylist(),
            day_out.column("text").to_pylist()),
        zip(day_in.column("url").to_pylist(),
            day_in.column("text").to_pylist())))
    planted = plants["recrawl_url"] + plants["recrawl_text"]
    kept = [u for u in planted if u in out_urls]
    ctx.check("daily.recrawls_dropped", not kept,
              f"{len(planted)} planted re-crawls, {len(kept)} kept")
    drift_dir = os.path.join(state, "drift", date)
    drift = load_drift_states(drift_dir)
    ctx.check("daily.drift_lang_histogram", *oracle.check_equal(
        "lang histogram", drift["lang"],
        oracle.histogram(day_in.column("lang"))))
    kll, kll_st = drift["kll"]
    ctx.check("daily.drift_kll", *oracle.check_kll(
        dict(zip(KLL_QS, kll.quantile(kll_st, KLL_QS).tolist())),
        oracle.token_count(day_in.column("text")), 2.296 / kll.k))
    mg, mg_st = drift["mg"]
    keys, counts = mg.topk(mg_st)
    ctx.check("daily.drift_misra_gries", *oracle.check_misra_gries(
        {str(k): int(c) for k, c in zip(keys, counts)},
        oracle.spark_tokens(day_in.column("text")), mg.error_bound(mg_st)))
    check_answers(ctx, answered, anchors, qm, store_dir, "daily.probe")
    check_store(ctx, store_dir, anchors, rng, "daily.store")
    check_fresh_store(ctx, store_dir, answered, "daily")
    log("checks done")

    if ctx.trace:
        near = plants["near_dup"]
        new_urls = sorted(set(day_in.column("url").to_pylist())
                          - set(history.column("url").to_pylist()))
        pre = SketchStore(os.path.join(hdir, "state", "store")) \
            .maybe_contains_urls(new_urls).value
        lay = res["layers"]
        lay.update({
            "jobs.input_rows": acct["input_rows"],
            "jobs.curated_rows": acct["curate"]["output_rows"],
            "jobs.known_url_dropped": acct.get("known_url_dropped", 0),
            "jobs.near_dup_dropped": acct["near_dup_dropped"],
            "jobs.day_docs": acct["day_docs"],
            "jobs.recrawl_kill_ratio":
                1.0 - len(kept) / max(len(planted), 1),
            "jobs.near_dup_kill_ratio":
                1.0 - sum(u in out_urls for u in near) / max(len(near), 1),
            "jobs.conflation_false_drop_ratio":
                sum(pre.values()) / max(len(new_urls), 1),
        })
        totals = trace.total_by_name(rec.spans)
        selfs = trace.self_by_name(rec.spans)
        for name in ("jobs.curate", "jobs.run_build", "jobs.run_cube",
                     "jobs.persist_drift_states",
                     "jobs.incremental_minhash_dedup"):
            lay[f"{name}_s"] = totals.get(name, 0.0)
        lay["jobs.run_daily.self_s"] = selfs["jobs.run_daily"]
        lay["store.merge_stores_s"] = totals.get("store.merge_stores", 0.0)
        jobs = ("jobs.run_daily", "jobs.curate", "jobs.run_build",
                "jobs.incremental_minhash_dedup")
        lay.update(_event_log_layers(elog, {g: g for g in jobs},
                                     keys=("tasks", "executor_run_s")))
        lay.update(_event_log_layers(elog, {f"operators.{op}":
                                            f"operators.{op}"
                                            for op in OPERATORS}))
        _kernel_shares(lay, BUILD_PAGES)
        lay.update(store_layers(answered, res))
        lay["trace.speed_factor"] = op_factor
        _finish_trace(ctx, rec, res, res["op_s"])
    return res


# -- serve --------------------------------------------------------------------

def serve(ctx: Context) -> dict:
    from gopie_spark.operators.store import SketchStore
    res = _new_result()
    hdir = ensure_history(ctx)
    store_dir = os.path.join(hdir, "state", "store")
    survivors = curated(os.path.join(hdir, "state"))
    anchors = Anchors(survivors)
    qm = QueryMaker(np.random.default_rng([ctx.seed, 4]), anchors)
    # set-up: open the store and answer one query of each class, cold
    speed = Speed()
    setups = []
    for _ in range(SERVE_SETUP_REPEATS):
        for _ in range(SPEED_SAMPLES):
            speed.sample()
        t0 = now()
        store = SketchStore(store_dir)
        for cls in CLASSES:
            _ask(store, qm.make(cls))
        setups.append((now() - t0) / speed.factor(t0 - 0.1, t0))
    res["setup_s"] = median(setups)
    rec = trace.SpanRecorder(f"serve-{ctx.seed}", None, ctx.trace)
    answered = serve_loop(ctx, store_dir, qm, res, rec)
    res["throughput_per_s"] = res["serve_qps"]
    res["op_s"] = 1.0 / res["serve_qps"]   # reference seconds per query
    raw: Dict[str, List[float]] = {}
    for (kind, _), _, ms, _ in answered:
        raw.setdefault(kind, []).append(ms)
    res["layers"]["trace.raw_op_s"] = 1.0 / geo_rate(raw)
    res["peak_rss_mb"] = peak_rss_mb()
    log(f"serve {len(answered)} queries, {res['serve_qps']:.1f}/s")
    ans = SketchStore(store_dir).maybe_contains_urls(anchors.urls)
    ctx.check("serve.bloom_all_inserted",
              *oracle.check_no_false_negative(ans.value))
    check_answers(ctx, answered, anchors, qm, store_dir, "serve")
    check_fresh_store(ctx, store_dir, answered, "serve")
    if ctx.trace:
        res["layers"].update(store_layers(answered, res))
        res["layers"].update(kernels_alone.run(survivors))
        _finish_trace(ctx, rec, res, res["op_s"])
    return res


WORKLOADS = {"daily": daily, "serve": serve}
