"""Vectorized Arrow/numpy kernels for the doc-local text operators.

Round-6 optimization (guide §4.2): the r5 text stack computed doc-local
token statistics with Catalyst higher-order functions (``transform`` /
``filter`` / ``zip_with`` / ``aggregate`` lambdas).  HOF lambdas are
evaluated INTERPRETED, per array element — measured ~5 µs/token on the
sf1.0 corpus (doc_repetition 12.8 s for 2.7 M tokens).  These kernels do
the same doc-local work as one ``mapInArrow`` pass over narrow
``(id, text)`` batches: tokenization in Arrow C++ (``split_pattern``),
counting in numpy (sorted-run statistics over dictionary codes) — the
"hand whole batches to vectorized native code" shape the optimization
guide prescribes for exactly this situation.

Exactness contract (the DuckDB oracles value-hash bit-for-bit):
- tokens are the non-empty pieces of ``split(text, ' ')`` — identical to
  ``filter(split(text, ' '), x -> x <> '')`` (NULL text => zero tokens,
  like the ``coalesce(text, '')`` forms);
- all statistics are exact int64 counts over exact strings (dictionary
  codes distinguish strings byte-for-byte; no hashing anywhere);
- n-gram strings are built with single-space joins, identical to
  ``concat_ws(' ', ...)`` over the same token slices.

Scale shape is unchanged from the HOF forms: every kernel is MAP-ONLY
(doc-local, zero shuffle); downstream aggregations/joins keep the exact
plan shapes the r5 operators had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import _arrow_np as anp
from ..memtune import tune_worker

__all__ = [
    "doc_repetition_stats_arrow",
    "ngram_tf_rows_arrow",
    "text_quality_stats_arrow",
]

REP_SCALE = 1_000_000  # mirrored from plans.textdata_queries (ppm columns)


def _tokenize_batch(texts):
    """Arrow batch helper: non-empty ``split(text, ' ')`` tokens.

    Returns ``(flat_ne, didx, n)`` — the kept tokens in document order
    (Arrow StringArray), the doc index of each kept token (int64 numpy,
    nondecreasing), and the batch row count."""
    flat_ne, didx = anp.doc_tokens(texts)
    return flat_ne, didx, len(texts)


def _codes(flat_ne):
    """Batch-local dictionary codes (int64) + the dictionary values.

    Codes compare equal iff the token strings are byte-identical — the
    exactness carrier for every counting kernel below."""
    import numpy as np

    denc = flat_ne.dictionary_encode()
    codes = anp.values(denc.indices, np.int64)
    return codes, denc.dictionary


def _run_stats(keys):
    """Sorted-run statistics of an int64 key array: unique keys and their
    multiplicities (``np.sort`` + run boundaries — the numpy analog of the
    r5 ``_with_tf_pairs`` sorted-run trick, minus the interpreter)."""
    import numpy as np

    sk = np.sort(keys)
    if sk.size == 0:
        return sk, np.empty(0, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    tf = np.diff(np.append(starts, sk.size))
    return sk[starts], tf


def _compact(a, b):
    """Combine two compact nonneg int64 code arrays into one compact id
    per position (ids dense in [0, n_distinct))."""
    import numpy as np

    if a.size == 0:
        return a, 0
    key = a * (int(b.max()) + 1) + b
    uniq, inv = np.unique(key, return_inverse=True)
    return inv.astype(np.int64), uniq.size


def doc_repetition_stats_arrow(docs: DataFrame, id_col: str = "doc_id",
                               text: str = "text") -> DataFrame:
    """One map-only Arrow pass producing the full ``doc_repetition`` row
    set (docs with zero tokens dropped, matching the unnest-based oracle).

    Per doc: n_tokens, n_distinct, top_tok_tf over the token multiset;
    n_bigrams, top_bigram_tf over adjacent non-empty token pairs; the
    three ppm ratios in exact int64 floor division."""
    id_type = docs.schema[id_col].dataType.simpleString()
    proj = docs.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        tune_worker()
        for batch in batches:
            ids = batch.column(0)
            flat_ne, didx, n = _tokenize_batch(batch.column(1))
            n_tokens = np.bincount(didx, minlength=n)
            codes, _vocab = _codes(flat_ne)
            v = int(codes.max()) + 1 if codes.size else 1
            # unigram runs per (doc, token)
            run_key, tf = _run_stats(didx * v + codes)
            run_doc = run_key // v
            n_distinct = np.bincount(run_doc, minlength=n)
            top_tok = np.zeros(n, dtype=np.int64)
            if run_doc.size:
                doc_starts = np.flatnonzero(
                    np.r_[True, run_doc[1:] != run_doc[:-1]])
                top_tok[run_doc[doc_starts]] = \
                    np.maximum.reduceat(tf, doc_starts)
            # bigrams: adjacent kept tokens within one doc
            if codes.size >= 2:
                same = didx[:-1] == didx[1:]
                bdoc = didx[:-1][same]
                bid, _nb = _compact(codes[:-1][same], codes[1:][same])
            else:
                bdoc = didx[:0]
                bid, _nb = codes[:0], 0
            n_bigrams = np.bincount(bdoc, minlength=n)
            top_big = np.zeros(n, dtype=np.int64)
            if bdoc.size:
                b = int(bid.max()) + 1
                brun_key, btf = _run_stats(bdoc * b + bid)
                brun_doc = brun_key // b
                bstarts = np.flatnonzero(
                    np.r_[True, brun_doc[1:] != brun_doc[:-1]])
                top_big[brun_doc[bstarts]] = \
                    np.maximum.reduceat(btf, bstarts)
            keep = n_tokens > 0
            if not keep.any():
                continue
            nt = n_tokens[keep]
            nd = n_distinct[keep]
            tt = top_tok[keep]
            nb = n_bigrams[keep]
            tb = top_big[keep]
            yield pa.RecordBatch.from_pydict({
                "doc_id": ids.filter(anp.array(keep)),
                "n_tokens": anp.array(nt),
                "n_distinct": anp.array(nd),
                "top_tok_tf": anp.array(tt),
                "n_bigrams": anp.array(nb),
                "top_bigram_tf": anp.array(tb),
                "distinct_ppm": anp.array(nd * REP_SCALE // nt),
                "top_tok_ppm": anp.array(tt * REP_SCALE // nt),
                "top_bigram_ppm": anp.array(
                    np.where(nb > 0, tb * REP_SCALE // np.maximum(nb, 1), 0)),
            })

    return proj.mapInArrow(
        kernel,
        f"doc_id {id_type}, n_tokens LONG, n_distinct LONG, "
        "top_tok_tf LONG, n_bigrams LONG, top_bigram_tf LONG, "
        "distinct_ppm LONG, top_tok_ppm LONG, top_bigram_ppm LONG",
    )


def ngram_tf_rows_arrow(docs: DataFrame, k: int, id_col: str = "doc_id",
                        text: str = "text") -> DataFrame:
    """Doc-distinct n-gram stream: one row per (doc, DISTINCT k-token
    n-gram) with its within-doc occurrence count — ``(_id, ngram, tf)``.

    k=1 yields the ``_with_tf_pairs`` token/tf stream; k=2 the bigram
    stream; k=8 the dup-span stream; k=CONTAM_SHINGLE_K the shingle
    stream (where only the distinct rows matter and ``tf`` carries the
    positional multiplicity).  N-gram strings are single-space joins of
    the exact token slices — identical bytes to
    ``concat_ws(' ', slice(l, i, k))``.  MAP-ONLY: nothing shuffles."""
    id_type = docs.schema[id_col].dataType.simpleString()
    proj = docs.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tune_worker()
        space = anp.from_list([" "], pa.string())[0]
        for batch in batches:
            ids = batch.column(0)
            flat_ne, didx, _n = _tokenize_batch(batch.column(1))
            codes, vocab = _codes(flat_ne)
            npos = codes.size - k + 1
            if npos <= 0:
                continue
            # n-gram id per starting position via pairwise compaction
            gid = codes[:npos].copy()
            for j in range(1, k):
                gid, _ = _compact(gid, codes[j:j + npos])
            valid = didx[:npos] == didx[k - 1:]
            if not valid.any():
                continue
            vpos = np.flatnonzero(valid)
            gdoc = didx[vpos]
            gids = gid[valid]
            s = int(gids.max()) + 1
            key = gdoc * s + gids
            uniq, first, tf = np.unique(key, return_index=True,
                                        return_counts=True)
            rep = vpos[first]  # a representative start position per row
            parts = [flat_ne.take(anp.array(rep + j)) for j in range(k)]
            ngram = parts[0] if k == 1 else \
                pc.binary_join_element_wise(*parts, space)
            yield pa.RecordBatch.from_pydict({
                "_id": ids.take(anp.array(uniq // s)),
                "ngram": ngram,
                "tf": anp.array(tf, pa.int64()),
            })

    return proj.mapInArrow(
        kernel, f"_id {id_type}, ngram STRING, tf LONG")


def quality_gate_cols_arrow(docs: DataFrame, stopwords: tuple,
                            id_col: str = "doc_id",
                            text: str = "text") -> DataFrame:
    """``(id, text, n_tokens, quality_score_bp)`` in one map-only Arrow
    pass — the quality-gate subset of :func:`text_quality_stats_arrow`
    with the text column passed through, so a composed cleaning pipeline
    can filter on the score and keep feeding downstream dedup stages
    without re-tokenizing (the r5 form evaluated the stopword/aggregate
    HOF lambdas interpreted, twice per doc across the filter and the
    final token-mass aggregate)."""
    id_type = docs.schema[id_col].dataType.simpleString()
    proj = docs.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tune_worker()
        sw = anp.from_list(stopwords, pa.string())
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            ok = anp.valid(texts)
            flat_ne, didx, n = _tokenize_batch(texts)
            n_tokens = np.bincount(didx, minlength=n)
            sw_mask = anp.values(pc.is_in(flat_ne, value_set=sw))
            sw_count = np.bincount(didx[sw_mask], minlength=n)
            denom = np.maximum(n_tokens, 1)
            sw_bp = np.floor(sw_count * 10000.0 / denom).astype(np.int64)
            len_ok = (n_tokens >= 30) & (n_tokens <= 500)
            quality = np.where(len_ok, 5000, 0) + \
                np.minimum(sw_bp * 5, 5000)
            yield pa.RecordBatch.from_pydict({
                "doc_id": ids,
                "text": texts,
                "n_tokens": anp.array(n_tokens, valid=ok),
                "quality_score_bp": anp.array(
                    np.where(~ok, 5000, quality)),
            })

    return proj.mapInArrow(
        kernel,
        f"doc_id {id_type}, text STRING, n_tokens LONG, "
        "quality_score_bp LONG",
    )


def text_quality_stats_arrow(docs: DataFrame, stopwords: tuple,
                             bpe_pattern: str,
                             id_col: str = "doc_id",
                             text: str = "text") -> DataFrame:
    """One map-only Arrow pass over ``(id, text)`` producing the five
    ``q_text_quality`` columns (exact integer/IEEE-double arithmetic,
    identical to the codegen expression forms in functions/textstats.py:
    token counts over non-empty pieces, codepoint lengths via
    ``utf8_length``, regex counts via RE2 — the pattern is restricted to
    constructs with identical semantics in Java regex and RE2, the same
    property the DuckDB oracle already relies on)."""
    id_type = docs.schema[id_col].dataType.simpleString()
    proj = docs.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tune_worker()
        sw = anp.from_list(stopwords, pa.string())
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            ok = anp.valid(texts)
            flat_ne, didx, n = _tokenize_batch(texts)
            n_tokens = np.bincount(didx, minlength=n)
            tok_len = anp.values(pc.utf8_length(flat_ne), np.int64)
            total_len = np.bincount(didx, weights=tok_len, minlength=n) \
                .astype(np.int64)
            sw_mask = anp.values(pc.is_in(flat_ne, value_set=sw))
            sw_count = np.bincount(didx[sw_mask], minlength=n)
            bpe = pc.count_substring_regex(texts, bpe_pattern)
            denom = np.maximum(n_tokens, 1)
            avg_len_bp = np.floor(total_len * 100.0 / denom).astype(np.int64)
            sw_bp = np.floor(sw_count * 10000.0 / denom).astype(np.int64)
            len_ok = (n_tokens >= 30) & (n_tokens <= 500)
            quality = np.where(len_ok, 5000, 0) + \
                np.minimum(sw_bp * 5, 5000)
            # NULL text: size(split(NULL)) is NULL => n_tokens NULL;
            # total_len aggregate over NULL is NULL => avg/sw ratios NULL;
            # quality = 0 + least(NULL*5, 5000) = 5000 (Spark least skips
            # NULLs), matching the codegen expression semantics exactly.
            yield pa.RecordBatch.from_pydict({
                "doc_id": ids,
                "n_tokens": anp.array(n_tokens, valid=ok),
                "bpe_ish_tokens": bpe.cast(pa.int64()),
                "avg_token_len_bp": anp.array(avg_len_bp, valid=ok),
                "stopword_ratio_bp": anp.array(sw_bp, valid=ok),
                "quality_score_bp": anp.array(
                    np.where(~ok, 5000, quality)),
            })

    return proj.mapInArrow(
        kernel,
        f"doc_id {id_type}, n_tokens LONG, bpe_ish_tokens LONG, "
        "avg_token_len_bp LONG, stopword_ratio_bp LONG, "
        "quality_score_bp LONG",
    )
