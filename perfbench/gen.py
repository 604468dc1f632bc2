"""Seeded input generator for the benchmark workloads.

Rows are drawn with numpy from generators seeded by (seed, recipe slot) and
written to parquet with pyarrow, before any Spark session exists: the run's
session then starts cold, and generation stays cheap. The same (seed, rows)
regenerates identical parquet, a different seed gives different rows. The
column recipes follow ``jsonschema_spark/sources/pages.py`` (word
vocabulary, lang codes, epoch range, hot host, html wrapping).

Each dataset carries hidden ``_gen_*`` columns: the row id and the bitmask
of planted defects. The engine never sees them (workloads select the public
columns); the benchmark uses them as ground truth for its output checks.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jsonschema_spark.sources.pages import (BAD_LANGS, EPOCH_HI, EPOCH_LO, HTML_POST, HTML_PRE,
                                            LANGS, WORDS)

DAY0 = np.datetime64("2024-03-01", "D")
N_DAYS = 8
HOT_HOST = "hot.example.com"
CORPUS_WORDS = 4096
MAX_WORDS = 40
NAMES = ["ana", "bo", "cy", "dee", "eli"]

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang", "day"]

# pages defects (bit → planted value)
P_URL, P_TS, P_EMPTY_TEXT, P_LANG, P_NULL_TEXT = 1, 2, 4, 8, 16

# json defects (bit → planted value)
J_TS, J_KIND, J_NAME, J_AGE, J_QTY, J_SCORE, J_CONTAINS, J_SKU, J_EXTRA = (
    1, 2, 4, 8, 16, 32, 64, 128, 256)
KINDS = ["view", "click", "buy", "share"]

# per-dataset planted rates, in 1/10000 of rows
PAGES_VERDICTS_RATES = {P_URL: 100, P_TS: 30, P_EMPTY_TEXT: 100, P_NULL_TEXT: 50, P_LANG: 120}
SMALL_PAGES_RATES = {P_URL: 300, P_TS: 300, P_EMPTY_TEXT: 300, P_LANG: 300, P_NULL_TEXT: 200}
SMALL_JSON_RATES = {J_TS: 200, J_KIND: 200, J_NAME: 200, J_AGE: 200, J_QTY: 200,
                    J_SCORE: 200, J_CONTAINS: 200, J_SKU: 200, J_EXTRA: 200}


def _ints(seed: int, slot: int, shape, hi: int) -> np.ndarray:
    """Uniform integers in [0, hi), one stream per (seed, recipe slot)."""
    return np.random.default_rng([seed, slot]).integers(0, hi, shape)


def _defects(seed: int, n: int, rates: dict[int, int], exclusive: bool) -> np.ndarray:
    """Bitmask of planted defects. ``exclusive``: at most one defect per row
    (one selector draw split into ranges); otherwise each defect is drawn
    independently, so rows often carry several."""
    out = np.zeros(n, np.int64)
    if exclusive:
        sel, lo = _ints(seed, 100, n, 10000), 0
        for bit, rate in rates.items():
            out[(sel >= lo) & (sel < lo + rate)] = bit
            lo += rate
        return out
    for bit, rate in rates.items():
        out |= np.where(_ints(seed, 100 + bit, n, 10000) < rate, bit, 0)
    return out


def pages_table(seed: int, n_rows: int, rates: dict[int, int], exclusive: bool) -> pa.Table:
    """Flat Common-Crawl-style pages: url, warc_ts, html, text, lang, day."""
    d = _defects(seed, n_rows, rates, exclusive)
    # a NULL text cannot also be the empty string
    d = np.where(d & P_NULL_TEXT, d & ~P_EMPTY_TEXT, d)
    # Zipf-like hosts: one hot host on 20% of rows, a 1/k tail on the rest
    hot = _ints(seed, 1, n_rows, 100) < 20
    tail = 5000 // (1 + _ints(seed, 2, n_rows, 5000))
    path = _ints(seed, 3, n_rows, 1 << 62)
    url = [f"not a scheme/{p:X}" if bad else
           f"https://{HOT_HOST if h else f'host-{t}.example.org'}/p/{p:X}"
           for bad, h, t, p in zip((d & P_URL).tolist(), hot.tolist(), tail.tolist(), path.tolist())]
    epoch = EPOCH_LO + _ints(seed, 4, n_rows, EPOCH_HI - EPOCH_LO)
    warc_ts = pa.array(epoch * 1_000_000, pa.timestamp("us", tz="UTC"), mask=(d & P_TS) != 0)
    # text: a window of a seeded word stream
    stream = [WORDS[i] for i in _ints(seed, 5, CORPUS_WORDS, len(WORDS))]
    n_words = 3 + _ints(seed, 6, n_rows, MAX_WORDS - 2)
    start = _ints(seed, 7, n_rows, CORPUS_WORDS - MAX_WORDS)
    text = [None if dd & P_NULL_TEXT else "" if dd & P_EMPTY_TEXT else " ".join(stream[s:s + k])
            for dd, s, k in zip(d.tolist(), start.tolist(), n_words.tolist())]
    html = [None if t is None else (HTML_PRE + t + HTML_POST).encode() for t in text]
    good = _ints(seed, 10, n_rows, len(LANGS))
    bad = _ints(seed, 11, n_rows, len(BAD_LANGS))
    lang = [BAD_LANGS[b] if dd & P_LANG else LANGS[g]
            for dd, g, b in zip(d.tolist(), good.tolist(), bad.tolist())]
    day = DAY0 + _ints(seed, 12, n_rows, N_DAYS)
    return pa.table({
        "url": pa.array(url, pa.string()), "warc_ts": warc_ts, "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()), "lang": pa.array(lang, pa.string()),
        "day": pa.array(day, pa.date32()),
        "_gen_rid": pa.array(np.arange(n_rows, dtype=np.int64)), "_gen_defects": pa.array(d)})


def _items(d: int, n: int, hk: list[int]) -> str:
    """The `items[]` array of one document as JSON text."""
    out = []
    for k in range(1, n + 1):
        h = hk[k - 1]
        sku = "sku_x" if d & J_SKU and k == 1 else f"SKU-{h % 10000:04d}"
        # the first item always satisfies `contains` (qty >= 3) unless planted
        qty = ("2.5" if d & J_QTY and k == 2 else "1" if d & J_CONTAINS
               else str(h % 7 + 3) if k == 1 else str(h % 9 + 1))
        # integer/number mix: whole prices on half the items, quarters on the rest
        cents = (h >> 4) % 4 * 25
        price = f"{h % 500}.{cents}" if cents else str(h % 500)
        out.append(f'{{"sku":"{sku}","qty":{qty},"price":{price}}}')
    return ",".join(out)


def _utc(epoch: int, fmt: str) -> str:
    return datetime.fromtimestamp(epoch, timezone.utc).strftime(fmt)


def json_table(seed: int, n_rows: int, rates: dict[int, int]) -> pa.Table:
    """JSON documents (id, doc) with a nested object, an item array, an
    integer/number mix, a pattern, an enum and RFC 3339 timestamps."""
    d = _defects(seed, n_rows, rates, exclusive=False).tolist()
    epoch = (EPOCH_LO + _ints(seed, 21, n_rows, EPOCH_HI - EPOCH_LO)).tolist()
    kind = _ints(seed, 22, n_rows, len(KINDS)).tolist()
    uh = _ints(seed, 23, n_rows, 1 << 40).tolist()
    n_items = _ints(seed, 24, n_rows, 12).tolist()
    sh = _ints(seed, 25, n_rows, 1 << 40).tolist()
    hk = _ints(seed, 26, (n_rows, 4), 1 << 40).tolist()
    docs = []
    for i in range(n_rows):
        di, u, s = d[i], uh[i], sh[i]
        ts = _utc(epoch[i], "%m/%d/%Y %H:%M" if di & J_TS else "%Y-%m-%dT%H:%M:%SZ")
        k = "unknown" if di & J_KIND else KINDS[kind[i]]
        name = f"User {u % 1000}" if di & J_NAME else f"{NAMES[u % 5]}_{u % 100000}"
        age = 200 + u % 50 if di & J_AGE else u % 100 + 1
        extra = ',"nick":"x"' if di & J_EXTRA else ""
        # a planted qty defect sits on item 2, so such documents have 2-4 items
        n = 2 + n_items[i] % 3 if di & J_QTY else 1 + n_items[i] % 4
        score = "" if di & J_SCORE else f',"score":{s % 1000}' + ("" if s % 2 == 0 else ".5")
        docs.append(f'{{"id":{i},"ts":"{ts}","kind":"{k}","user":{{"name":"{name}","age":{age}'
                    f'{extra}}},"items":[{_items(di, n, hk[i])}]{score}}}')
    rid = pa.array(np.arange(n_rows, dtype=np.int64))
    return pa.table({"id": rid, "doc": pa.array(docs, pa.string()), "_gen_rid": rid,
                     "_gen_defects": pa.array(d, pa.int64())})


def materialize(path: str, build, key: str | None = None, partition_by: str | None = None,
                n_files: int = 1) -> tuple[str, dict]:
    """Write ``build()`` to parquet at ``path`` once; return (path, defect
    histogram). The histogram ({(key value, defect bitmask): rows}, key
    value None without ``key``) is the ground truth every expected output is
    derived from; it is cached beside the data. The rows are split over
    ``n_files`` files, as a Spark writer's tasks would leave them;
    ``partition_by`` does so in one ``<column>=<value>`` directory per value
    (Hive layout)."""
    meta_path = os.path.join(path, "_perfbench_meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(path, ignore_errors=True)
        t = build()
        parts = {"": t}
        if partition_by:
            col = t.column(partition_by).to_numpy()
            parts = {f"{partition_by}={v}": t.filter(pa.array(col == v)).drop([partition_by])
                     for v in np.unique(col)}
        for sub, part in parts.items():
            os.makedirs(os.path.join(path, sub))
            bounds = np.linspace(0, part.num_rows, n_files + 1).astype(int)
            for i in range(n_files):
                pq.write_table(part.slice(bounds[i], bounds[i + 1] - bounds[i]),
                               os.path.join(path, sub, f"part-{i:05d}.parquet"))
        keys = [None if v is None else str(v) for v in t.column(key).to_pylist()] if key else [None] * t.num_rows
        hist = Counter(zip(keys, t.column("_gen_defects").to_pylist()))
        with open(meta_path, "w") as f:
            json.dump([[k, d, n] for (k, d), n in hist.items()], f)
    with open(meta_path) as f:
        return path, {(k, d): n for k, d, n in json.load(f)}
