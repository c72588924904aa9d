"""Seeded workload generator, built on ``sources.pages.generate_pages``.

The stock generator draws text from a stopword-free random vocabulary, so
~97% of its pages fail the Gopher stopword rule and curation keeps almost
nothing.  This module reshapes its pages into a workload with stated
properties:

- ``STOPWORD_SHARE`` of the tokens of ordinary pages are common English
  stopwords, so they pass the quality rules;
- a stated minority of pages is made to fail one quality rule each
  (``QUALITY_PLANTS``: too short, no stopwords, non-alphabetic, overlong
  tokens, one repeated token);
- urls carry a per-(seed, day) path tag, so urls of different days never
  collide except where planted;
- a day generated against a history carries planted re-crawls: the url of
  a history survivor with new text (``RECRAWL_URL_SHARE``), the exact text
  of a history survivor under a new url (``RECRAWL_TEXT_SHARE``), and
  near-duplicate edits of history texts with ``NEAR_DUP_EDITS`` tokens
  changed (``NEAR_DUP_SHARE``).

Every choice is drawn from the seed.  Tables are written once per
(kind, seed, size) under the checkout's cache and reused.
"""
from __future__ import annotations

import json
import os
import shutil
from typing import Dict, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1

# the Gopher-style stopword list the engine's quality rule counts
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
             "was", "on", "are", "as", "with", "at", "be", "by", "this"]
STOPWORD_SHARE = 0.12
QUALITY_PLANTS = {"short": 0.01, "stopword": 0.02, "alpha": 0.01,
                  "mean_tok": 0.01, "repetition": 0.01}
RECRAWL_URL_SHARE = 0.03
RECRAWL_TEXT_SHARE = 0.02
NEAR_DUP_SHARE = 0.02
NEAR_DUP_EDITS = 2
NEAR_DUP_MIN_TOKENS = 100
N_FILES = 4
PLANTS_FILE = "plants.json"


def _base_pages(tmp: str, seed: int, n: int) -> pa.Table:
    from gopie_spark.sources.pages import generate_pages
    d = generate_pages(os.path.join(tmp, f"base-{seed}-{n}"), n,
                       n_files=N_FILES, seed=seed)
    t = pq.read_table(d, columns=["url", "warc_ts", "text", "lang"])
    shutil.rmtree(d)
    return t


def _tag_urls(urls: Sequence[str], tag: str) -> list:
    # https://hN.example.org/<path> -> https://hN.example.org/<tag>/<path>
    out = []
    for u in urls:
        head, _, path = u.rpartition("/")
        out.append(f"{head}/{tag}/{path}")
    return out


def _split(texts: Sequence[str]):
    lists = pc.split_pattern(pa.array(texts, type=pa.string()), " ")
    lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(lists).to_numpy(zero_copy_only=False)
    return flat, np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)


def _join(flat: np.ndarray, bounds: np.ndarray) -> list:
    lists = pa.ListArray.from_arrays(pa.array(bounds, type=pa.int32()),
                                     pa.array(flat, type=pa.string()))
    return pc.binary_join(lists, " ").to_pylist()


def _shape_text(rng: np.random.Generator, texts: Sequence[str],
                plant_of: np.ndarray) -> list:
    """Inject stopwords into every page, then break the planted pages."""
    flat, bounds = _split(texts)
    holes = np.flatnonzero(rng.random(flat.size) < STOPWORD_SHARE)
    flat[holes] = np.array(STOPWORDS, dtype=object)[
        rng.integers(0, len(STOPWORDS), holes.size)]
    out = _join(flat, bounds)
    stop = set(STOPWORDS)
    for i in np.flatnonzero(plant_of != ""):
        toks = out[i].split(" ")
        kind = plant_of[i]
        if kind == "short":
            toks = toks[:8]
        elif kind == "stopword":
            toks = [("zq" + t) if t in stop else t for t in toks]
        elif kind == "alpha":
            toks = [str(int(x)) for x in rng.integers(10, 99999, len(toks))]
        elif kind == "mean_tok":
            toks = [t * 4 for t in toks]
        elif kind == "repetition":
            toks = [toks[0]] * max(len(toks), 30)
        out[i] = " ".join(toks)
    return out


def _assign_plants(rng: np.random.Generator, n: int) -> np.ndarray:
    plant_of = np.full(n, "", dtype=object)
    free = rng.permutation(n)
    pos = 0
    for kind, share in QUALITY_PLANTS.items():
        k = int(round(share * n))
        plant_of[free[pos:pos + k]] = kind
        pos += k
    return plant_of


def _write(table: pa.Table, out_dir: str, plants: Dict) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-table.num_rows // N_FILES)
    for f in range(N_FILES):
        part = table.slice(f * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(tmp, f"part-{f:05d}.parquet"))
    with open(os.path.join(tmp, "_" + PLANTS_FILE), "w") as fh:
        json.dump(plants, fh, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def read_plants(pages_dir: str) -> Dict:
    with open(os.path.join(pages_dir, "_" + PLANTS_FILE)) as fh:
        return json.load(fh)


def make_pages(out_dir: str, seed: int, n: int, tag: str,
               history: Optional[pa.Table] = None) -> str:
    """Write one pages table (url, warc_ts, text, lang) to ``out_dir``.

    ``history`` (url, text of the corpus's survivors so far) turns on the
    planted re-crawls and near-dups.  Returns ``out_dir``; a finished
    directory is reused as is.
    """
    if os.path.isdir(out_dir):
        return out_dir
    scratch = out_dir + ".base"
    os.makedirs(scratch, exist_ok=True)
    base = _base_pages(scratch, seed, n)
    shutil.rmtree(scratch, ignore_errors=True)
    rng = np.random.default_rng([seed, GEN_VERSION, 17])
    urls = np.array(_tag_urls(base.column("url").to_pylist(), tag),
                    dtype=object)
    plant_of = _assign_plants(rng, n)
    texts = _shape_text(rng, base.column("text").to_pylist(), plant_of)
    plants: Dict = {"quality": {k: sorted(set(urls[plant_of == k]))
                                for k in QUALITY_PLANTS}}
    if history is not None and history.num_rows:
        _plant_history(rng, urls, texts, plant_of, history, plants)
    table = pa.table({
        "url": pa.array(list(urls), type=pa.string()),
        "warc_ts": base.column("warc_ts"),
        "text": pa.array(texts, type=pa.string()),
        "lang": base.column("lang"),
    })
    _write(table, out_dir, plants)
    return out_dir


def _plant_history(rng, urls, texts, plant_of, history: pa.Table,
                   plants: Dict) -> None:
    """Overwrite ordinary rows of a new day with re-crawls of history."""
    n = len(urls)
    _, first, counts = np.unique(urls.astype(str), return_index=True,
                                 return_counts=True)
    unique_url = np.zeros(n, dtype=bool)
    unique_url[first[counts == 1]] = True
    rows = rng.permutation(np.flatnonzero(unique_url & (plant_of == "")))
    h_urls = history.column("url").to_pylist()
    h_texts = history.column("text").to_pylist()
    h_order = rng.permutation(len(h_urls))
    k_url = min(int(round(RECRAWL_URL_SHARE * n)), len(h_order) // 3)
    k_text = min(int(round(RECRAWL_TEXT_SHARE * n)), len(h_order) // 3)
    long_h = [i for i in h_order[k_url + k_text:]
              if h_texts[i].count(" ") + 1 >= NEAR_DUP_MIN_TOKENS]
    k_near = min(int(round(NEAR_DUP_SHARE * n)), len(long_h))
    pos = 0
    recrawl_url, recrawl_text, near_dup = [], [], []
    for j in range(k_url):
        r = rows[pos]
        pos += 1
        urls[r] = h_urls[h_order[j]]
        recrawl_url.append(urls[r])
    for j in range(k_text):
        r = rows[pos]
        pos += 1
        texts[r] = h_texts[h_order[k_url + j]]
        recrawl_text.append(urls[r])
    for j in range(k_near):
        r = rows[pos]
        pos += 1
        toks = h_texts[long_h[j]].split(" ")
        for e, at in enumerate(rng.choice(len(toks), NEAR_DUP_EDITS,
                                          replace=False)):
            toks[at] = f"edit{e}x{j}"
        texts[r] = " ".join(toks)
        near_dup.append(urls[r])
    plants.update(recrawl_url=sorted(recrawl_url),
                  recrawl_text=sorted(recrawl_text),
                  near_dup=sorted(near_dup))
