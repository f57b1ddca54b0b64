"""Seeded single-process input generator for the benchmark workloads.

Every input is a pure function of ``(seed, size)`` and is written once
under ``perfbench/.cache/``; a later run with the same seed and size reuses
it. Truth tables are written beside the inputs so each operation can be
checked against exact answers:

- ``web`` (``web_tokens``, ``host_groups``): parquet pages with the schema
  ``url, warc_ts, html, text, lang``. Token ids follow a Zipf (s=1)
  distribution over a large vocabulary, hosts a Zipf (s=1) distribution
  over thousands of hosts, and every URL is distinct.
  ``truth_tokens.parquet`` holds the exact count of every token and
  ``truth_hosts.parquet`` the exact number of distinct URLs per host.
- ``tables`` (``query_mix``): ``documents.parquet`` and ``events.parquet``
  with the column layout of the repository's test tables, which the query
  registry expects (a 30-word vocabulary, events over January 2024).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

HTML_PREFIX = "<html><head><title>T"
HTML_MID = "</title></head><body><p>"
HTML_SUFFIX = "</p></body></html>"
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.45, 0.15, 0.15, 0.15, 0.10]
MIN_TOKENS, MAX_TOKENS = 20, 200  # tokens per page, uniform

DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


@dataclass(frozen=True)
class WebSize:
    pages: int
    vocab: int
    hosts: int
    files: int = 8


@dataclass(frozen=True)
class TableSize:
    docs: int
    events: int
    users: int


def zipf_ids(rng: np.random.Generator, n_values: int, n: int,
             s: float = 1.0) -> np.ndarray:
    """``n`` draws of ranks ``0..n_values-1`` with P(k) proportional to
    (k+1)^-s, by inverse transform on the exact finite CDF."""
    cdf = np.cumsum(np.arange(1, n_values + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    ids = np.searchsorted(cdf, rng.random(n), side="right")
    return np.minimum(ids, n_values - 1).astype(np.int64)


def _prefixed(prefix: str, ids: np.ndarray, suffix: str = "") -> pa.Array:
    parts = [pa.scalar(prefix), pc.cast(pa.array(ids), pa.string())]
    if suffix:
        parts.append(pa.scalar(suffix))
    return pc.binary_join_element_wise(*parts, "")


def _join_lists(words: pa.Array, lengths: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    lists = pa.ListArray.from_arrays(pa.array(offsets), words)
    return pc.binary_join(lists, " ")


def web_tables(seed: int, size: WebSize) -> dict[str, pa.Table]:
    """The web corpus and its two truth tables, as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n = size.pages
    n_tok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, n)
    tok_ids = zipf_ids(rng, size.vocab, int(n_tok.sum()))
    # a seeded permutation decouples a word's spelling from its rank
    spelling = rng.permutation(size.vocab)
    vocab_used = np.flatnonzero(np.bincount(tok_ids, minlength=size.vocab))
    code = np.full(size.vocab, -1, dtype=np.int64)
    code[vocab_used] = np.arange(len(vocab_used))
    words_used = _prefixed("w", spelling[vocab_used])
    text = _join_lists(words_used.take(pa.array(code[tok_ids])), n_tok)

    host_ids = zipf_ids(rng, size.hosts, n)
    page_ids = np.arange(n, dtype=np.int64)
    url = pc.binary_join_element_wise(
        _prefixed("https://host", host_ids, ".example/page"),
        pc.cast(pa.array(page_ids), pa.string()), "")
    html = pc.cast(pc.binary_join_element_wise(
        _prefixed(HTML_PREFIX, page_ids, HTML_MID), text,
        pa.scalar(HTML_SUFFIX), ""), pa.binary())
    t0 = np.datetime64("2026-01-01T00:00:00", "us")
    warc_ts = pa.array(t0 + page_ids * np.int64(1_000_000))
    lang = pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)])
    pages = pa.table({"url": url, "warc_ts": warc_ts, "html": html,
                      "text": text, "lang": lang})

    counts = np.bincount(tok_ids, minlength=size.vocab)[vocab_used]
    tokens = pa.table({"token": words_used, "count": pa.array(counts)})
    per_host = np.bincount(host_ids, minlength=size.hosts)
    used_hosts = np.flatnonzero(per_host)
    hosts = pa.table({"host": _prefixed("host", used_hosts, ".example"),
                      "urls": pa.array(per_host[used_hosts])})
    return {"pages": pages, "truth_tokens": tokens, "truth_hosts": hosts}


def query_tables(seed: int, size: TableSize) -> dict[str, pa.Table]:
    """``documents`` and ``events`` tables for the query registry."""
    rng = np.random.default_rng([seed, 2])
    n_words = rng.integers(10, 101, size.docs)
    words = pa.array(DOC_WORDS).take(
        pa.array(rng.integers(0, len(DOC_WORDS), int(n_words.sum()))))
    text = _join_lists(words, n_words)
    documents = pa.table({
        "doc_id": pa.array(np.arange(size.docs, dtype=np.int64)),
        "text": text,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size.docs,
                                                    p=LANG_P)]),
        "source": _prefixed("src", rng.integers(0, 20, size.docs)),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })

    n = size.events
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs
    values = np.round(rng.exponential(50.0, n), 2)
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, size.users, n)),
        "event_type": pa.array(EVENT_TYPES).take(
            pa.array(rng.integers(0, len(EVENT_TYPES), n))),
        "value": pa.array(values),
        "props": pc.binary_join_element_wise(
            pa.scalar('{"k": '), pc.cast(pa.array(rng.integers(0, 100, n)),
                                         pa.string()), pa.scalar("}"), ""),
    })
    return {"documents": documents, "events": events}


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def ensure(kind: str, seed: int, size) -> tuple[str, float]:
    """Write the ``kind`` inputs for ``(seed, size)`` unless cached.
    Returns ``(directory, seconds spent generating)``; 0.0 on a hit."""
    tag = "_".join(str(v) for v in vars(size).values())
    out = os.path.join(CACHE_DIR, f"{kind}_s{seed}_{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "web":
        tabs = web_tables(seed, size)
        _write_parts(tabs["pages"], os.path.join(tmp, "pages"), size.files)
        for name in ("truth_tokens", "truth_hosts"):
            pq.write_table(tabs[name], os.path.join(tmp, f"{name}.parquet"))
    elif kind == "tables":
        for name, tab in query_tables(seed, size).items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0

