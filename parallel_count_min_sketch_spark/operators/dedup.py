"""Deduplication operators for training-data pipelines: exact (hash
groupBy), MinHash+LSH, SimHash, and n-gram Jaccard, with the hash
constants seed-derived so DuckDB oracles replay them exactly. Token ids
are djb2 over UTF-8 bytes, computed by the numpy ``djb2_batch`` (in the
doc-local kernels, and through ``sketch_agg.with_djb2`` in the Catalyst
table forms).

Scale notes (100 TB): exact dedup is one shuffle on a 128-bit digest.
MinHash mins and SimHash fingerprints run in DOC-LOCAL Arrow kernels
(_minhash_mins_arrow, _simhash_arrow), so no token stream ever shuffles —
one narrow vectorized pass plus a thin per-doc agg. (The Catalyst table
forms — distinct (doc, token) stream + vocabulary join — are kept as
references and for SimHash ids whose rows span Arrow batches; on web-like
text the vocabulary is nearly corpus-sized and that shape shuffles
O(corpus) rows twice, measured ~7x slower end-to-end at 2M docs.) LSH
candidate pairs shuffle only (band_key, doc_id) rows and self-join per
bucket, never all-pairs. n-gram Jaccard is for verifying
candidate pairs (quadratic only within a candidate set).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sketches.hashing import MERSENNE_PRIME, affine_params
from .sketch_agg import with_djb2

MINHASH_SEED = 4242
DEFAULT_PERMS = 32  # 4 bands x 8 rows: P(band collision) = J^8 — near-dups
DEFAULT_BANDS = 4   # (J~1) always collide; unrelated docs (J~0.3) at ~6e-5
SIMHASH_BITS = 32


def _guarded_id(id_col: str) -> Column:
    """``id_col`` as ``_id``, failing the job on NULL: a NULL document key
    would silently fingerprint as an empty doc (the signature-restoring
    left join never matches NULL). The assert lives inside the projected
    expression so column pruning cannot drop it."""
    col = F.col(id_col)
    return F.when(
        F.assert_true(col.isNotNull(),
                      F.lit(f"fingerprint tables require non-null {id_col}")).isNull(),
        col,
    ).alias("_id")


def _doc_tokens(df: DataFrame, id_col: str, text: str) -> DataFrame:
    """Distinct (``_id``, ``_tok``) pairs — the shared tokenization front of
    minhash_table and simhash_table. ``id_col`` is the DOCUMENT IDENTITY:
    rows sharing an id are treated as one document (their token sets
    union); NULL ids raise (see _guarded_id)."""
    return (
        df.select(_guarded_id(id_col),
                  F.explode(F.split(F.col(text), " ")).alias("_tok"))
        .filter(F.col("_tok") != "").distinct()
    )


def minhash_table(df: DataFrame, id_col: str, text: str = "text", *,
                  num_perms: int = DEFAULT_PERMS,
                  seed: int = MINHASH_SEED) -> DataFrame:
    """MinHash signatures as DataFrame[(_id, _sig array<bigint>)]: for
    each of ``num_perms`` seeded affine permutations (a_j*x+b_j mod p),
    the min over the doc's token ids — the standard MinHash estimator of
    Jaccard similarity — from the columnar ``_minhash_mins_arrow``. Docs
    with no tokens get the all-NULL signature.

    ``id_col`` is the document identity: rows sharing an id union their
    token sets into one signature; NULL ids raise at runtime."""
    mins = _minhash_mins_arrow(df, id_col, text, num_perms=num_perms, seed=seed)
    return mins.select(
        "_id", F.array(*[F.col(f"_m{j}") for j in range(num_perms)]).alias("_sig"))


def _minhash_mins_table(df: DataFrame, id_col: str, text: str = "text", *,
                        num_perms: int = DEFAULT_PERMS,
                        seed: int = MINHASH_SEED) -> DataFrame:
    """Catalyst table form of ``_minhash_mins_arrow``, value-identical:
    distinct (doc, token) stream joined against the distinct vocabulary,
    each vocabulary token hashed once. On web-like text the vocabulary is
    nearly corpus-sized and this shape shuffles O(corpus) rows twice
    (measured 4-5x slower end-to-end than the Arrow form at 2M docs); it
    is kept as the tests' reference."""
    a, b = affine_params(seed, num_perms)
    toks = _doc_tokens(df, id_col, text)
    tid = F.col("_tid") % MERSENNE_PRIME
    vocab = with_djb2(toks.select("_tok").distinct(), "_tok", "_tid").select(
        "_tok",
        *[((F.lit(int(a[j])) * tid + F.lit(int(b[j]))) % MERSENNE_PRIME)
          .alias(f"_p{j}") for j in range(num_perms)],
    )
    mins = toks.join(vocab, "_tok").groupBy("_id").agg(
        *[F.min(f"_p{j}").alias(f"_m{j}") for j in range(num_perms)])
    base = df.select(_guarded_id(id_col)).distinct()
    return base.join(mins, "_id", "left")


def _minhash_mins_arrow(df: DataFrame, id_col: str, text: str = "text", *,
                        num_perms: int = DEFAULT_PERMS,
                        seed: int = MINHASH_SEED) -> DataFrame:
    """Columnar MinHash mins DataFrame[(_id, _m0.._m{num_perms-1})] — the
    shared core of minhash_table and lsh_band_rows. Every doc of the input
    appears exactly once; docs with no tokens carry NULL mins (the array
    form renders them as the all-NULL signature, the band form's NULL band
    keys never equi-join).

    Doc-local: one narrow ``mapInArrow`` pass (tokenize, djb2,
    ``num_perms`` affine permutations, per-doc segment-min — all
    vectorized numpy over Arrow batches), then a single thin
    ``groupBy(_id).min`` that unions rows sharing an id and merges
    per-partition partials. No token stream ever shuffles:
    min-over-multiset equals min-over-set, so no (doc, token) distinct is
    needed.

    Value-identical to the table form: same djb2-over-UTF-8-bytes token
    ids, same (a_j*x+b_j) mod p permutations, duplicates inside a doc
    cannot change a min. Docs with no tokens (or NULL text) carry NULL
    partial mins, which ``F.min`` propagates to the final NULL signature;
    NULL ids fail the job (same contract as ``_guarded_id``)."""
    import numpy as np
    import pyarrow as pa

    a_np, b_np = affine_params(seed, num_perms)
    a_list = [int(v) for v in a_np]
    b_list = [int(v) for v in b_np]
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"_id {id_type}, " + ", ".join(
        f"_m{j} LONG" for j in range(num_perms))
    proj = df.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))
    p = MERSENNE_PRIME

    def fold(batches):
        from .. import _arrow_np as anp
        from ..memtune import tune_worker
        from ..sketches.hashing import djb2_batch

        tune_worker()
        for batch in batches:
            ids = batch.column(0)
            if ids.null_count:
                raise ValueError(f"fingerprint tables require non-null {id_col}")
            n = batch.num_rows
            # NULL texts contribute no tokens; per-doc nonempty-token
            # counts are a bincount of the kept tokens' doc indices
            flat_ne, didx = anp.doc_tokens(batch.column(1))
            counts = np.bincount(didx, minlength=n)
            ends = np.cumsum(counts)
            starts = ends - counts
            sel = counts > 0
            st = starts[sel]
            # hash each BATCH-DISTINCT token once, then gather per
            # occurrence: djb2 is byte-wise (the kernel's hottest loop)
            # and real corpora repeat tokens heavily, so dictionary-encode
            # first and run djb2 + the num_perms affine maps over the
            # dictionary only. h_j per occurrence = hu_j[codes] is the
            # same value as hashing the occurrence directly (identical
            # string -> identical djb2 -> identical affine image), so
            # every per-doc min is bit-identical to the per-occurrence
            # form (equality-tested in tests/test_fingerprint_kernels.py).
            enc = flat_ne.dictionary_encode()
            codes = anp.values(enc.indices)
            xu = djb2_batch(enc.dictionary) % p  # token ids, already < p
            cols = {"_id": ids}
            for j in range(num_perms):
                hu = (a_list[j] * xu + b_list[j]) % p
                res = np.zeros(n, dtype=np.int64)
                if st.size:
                    # tokens are contiguous per doc (np.repeat order), so
                    # each reduceat segment [st_i, st_{i+1}) is one doc
                    res[sel] = np.minimum.reduceat(hu[codes], st)
                cols[f"_m{j}"] = anp.array(res, valid=sel)
            yield pa.RecordBatch.from_pydict(cols)

    partials = proj.mapInArrow(fold, out_schema)
    return partials.groupBy("_id").agg(
        *[F.min(f"_m{j}").alias(f"_m{j}") for j in range(num_perms)])


def minhash_long(df: DataFrame, id_col: str, text: str = "text", *,
                 num_perms: int = DEFAULT_PERMS, seed: int = MINHASH_SEED) -> DataFrame:
    """(id, perm, minhash) long format — one row per permutation."""
    return minhash_table(df, id_col, text, num_perms=num_perms, seed=seed).select(
        F.col("_id").alias(id_col),
        F.posexplode("_sig").alias("perm", "minhash"),
    )


def lsh_band_rows(df: DataFrame, id_col: str, text: str = "text", *,
                  num_perms: int = DEFAULT_PERMS, bands: int = DEFAULT_BANDS,
                  seed: int = MINHASH_SEED) -> DataFrame:
    """(_id, band, band_key): one row per (doc, band) with the band's
    minhashes folded into a single bigint key.

    The fold ((acc * 1000003 + m) % p per band minhash) is emitted as a
    chained column expression over the columnar mins — identical values to
    an aggregate() HOF over the signature array, but whole-stage codegen'd
    instead of interpreted per array element. Empty docs have NULL mins,
    so their band keys are NULL and never equi-join."""
    rows_per_band = num_perms // bands
    mins = _minhash_mins_arrow(df, id_col, text, num_perms=num_perms, seed=seed)

    # ONE parsed SQL expression for the whole banded-key array: the
    # Column-API fold costs ~4 py4j round-trips per chain step (~0.25 s
    # per construction at 32 perms from the driver, paid on every query
    # build). Same chained (acc * 1000003 + _m_j) % p arithmetic, left to
    # right — identical values (mins are in [0, p), so % == pmod here).
    def band_key(i: int) -> str:
        acc = "CAST(0 AS BIGINT)"
        for j in range(i * rows_per_band, (i + 1) * rows_per_band):
            acc = f"(({acc}) * 1000003 + _m{j}) % {MERSENNE_PRIME}"
        return acc

    keys = ", ".join(band_key(i) for i in range(bands))
    return mins.select(
        "_id",
        F.expr(f"posexplode(array({keys}))").alias("band", "band_key"),
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, text: str = "text", *,
                        num_perms: int = DEFAULT_PERMS, bands: int = DEFAULT_BANDS,
                        seed: int = MINHASH_SEED,
                        max_bucket: int | None = None,
                        band_rows: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, hash each band,
    self-join on (band, band_key). Returns distinct (id_a, id_b), a < b.

    The only shuffle is on the band key; a bucket of size s yields s^2
    pairs locally. ``max_bucket`` caps that: buckets larger than the cap
    are DROPPED before the self-join (the standard guard — a degenerate
    key, e.g. thousands of empty/boilerplate-identical docs, would
    otherwise emit s^2 pairs on one task and OOM it at corpus scale).
    Dropped buckets are near-exact-duplicate cliques; route those through
    exact_dup_groups instead of pairwise LSH. Use ``lsh_bucket_stats`` to
    size the cap and surface what a given cap drops. ``band_rows``
    bypasses the MinHash recompute when the caller already materialized
    the (_id, band, band_key) rows (the incremental report shares one
    band computation between the index probe and this self-join)."""
    if band_rows is None:
        band_rows = lsh_band_rows(df, id_col, text, num_perms=num_perms,
                                  bands=bands, seed=seed)
    # ONE explicit exchange on the join key: the cap aggregation, the
    # anti-join, and BOTH self-join sides all consume band_rows, and
    # without this each consumer would recompute the whole minhash
    # pipeline from the scan (observed 4x at 2M docs). Hash-partitioning
    # here makes every downstream exchange canonically identical, so
    # Catalyst's ReuseExchange runs the minhash once and replays the
    # shuffle files for the other consumers — no caching needed.
    band_rows = band_rows.repartition("band", "band_key")
    if max_bucket is not None:
        # oversized buckets via groupBy + anti-join, NOT a count window: the
        # window adds a sort-based exchange over the full band_rows stream,
        # while groupBy(band, band_key).count() is partial/final (map-side
        # combinable) and the oversized-key set is tiny — AQE broadcasts it
        # into the anti-join, so the cap costs no extra wide shuffle.
        oversized = (
            band_rows.groupBy("band", "band_key")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_bucket)
            .select("band", "band_key")
        )
        band_rows = band_rows.join(oversized, ["band", "band_key"], "left_anti")
    left = band_rows.select(F.col("band"), F.col("band_key"), F.col("_id").alias("id_a"))
    right = band_rows.select(F.col("band"), F.col("band_key"), F.col("_id").alias("id_b"))
    pairs = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs


def lsh_bucket_stats(df: DataFrame, id_col: str, text: str = "text", *,
                     num_perms: int = DEFAULT_PERMS, bands: int = DEFAULT_BANDS,
                     seed: int = MINHASH_SEED,
                     max_bucket: int | None = None) -> DataFrame:
    """One row: bucket-size distribution + what ``max_bucket`` would drop —
    the sizing companion to ``lsh_candidate_pairs``."""
    sizes = (
        lsh_band_rows(df, id_col, text, num_perms=num_perms, bands=bands, seed=seed)
        .groupBy("band", "band_key").agg(F.count("*").alias("sz"))
    )
    dropped = (F.col("sz") > max_bucket) if max_bucket is not None else F.lit(False)
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("buckets_dropped"),
        F.sum(F.when(dropped, F.col("sz")).otherwise(0)).alias("rows_dropped"),
        F.sum(F.when(dropped, F.col("sz") * F.col("sz")).otherwise(0)).alias("pairs_avoided"),
    )


def write_lsh_index(df: DataFrame, id_col: str, path: str, text: str = "text",
                    *, num_perms: int = DEFAULT_PERMS, bands: int = DEFAULT_BANDS,
                    seed: int = MINHASH_SEED,
                    max_bucket: int | None = None) -> None:
    """Persist the corpus's LSH band index so NIGHTLY BATCHES can be
    near-deduped against the corpus WITHOUT rescanning it — the
    incremental regime every production crawl pipeline runs in (the
    corpus is append-only and 100 TB; the nightly batch is small).

    Writes two datasets under ``path``:

    - ``bands``: (band, band_key, corpus_id) — one row per (doc, band),
      the same band-key fold ``lsh_candidate_pairs`` joins on. Size is
      docs x bands rows of three bigints, ~1000x smaller than the text.
    - ``oversized``: the (band, band_key) pairs whose CORPUS bucket
      exceeds ``max_bucket`` (empty when no cap). Precomputed here, at
      index-build time, so incremental runs never re-aggregate the
      corpus-scale band table to learn the degenerate keys — they
      broadcast this tiny relation into an anti-join instead.

    Appending a deduped batch to the index is the same ``lsh_band_rows``
    write in append mode (oversized keys can be refreshed lazily — the
    cap is a pair-explosion guard, not a correctness bound).
    """
    rows = lsh_band_rows(df, id_col, text, num_perms=num_perms,
                         bands=bands, seed=seed) \
        .withColumnRenamed("_id", "corpus_id")
    rows.write.mode("overwrite").parquet(path + "/bands")
    spark = df.sparkSession
    bands_df = spark.read.parquet(path + "/bands")
    sizes = (bands_df.groupBy("band", "band_key")
             .agg(F.count("*").alias("_sz")))
    cap = F.col("_sz") > max_bucket if max_bucket is not None else F.lit(False)
    sizes.filter(cap).select("band", "band_key") \
        .write.mode("overwrite").parquet(path + "/oversized")


def incremental_lsh_matches(spark, new_df: DataFrame, id_col: str,
                            index_path: str, text: str = "text", *,
                            num_perms: int = DEFAULT_PERMS,
                            bands: int = DEFAULT_BANDS,
                            seed: int = MINHASH_SEED,
                            index_bands: DataFrame | None = None,
                            new_band_rows: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup matches of a NEW batch against a stored corpus
    index: (new_id, corpus_id), distinct. ``index_bands`` overrides the
    ``bands`` dataset read (the streaming sink passes the base index
    unioned with prior micro-batches' appends, excluding its own
    batch_id so replays stay deterministic).

    Scale shape — the whole point of the operator: the corpus-scale
    ``bands`` index is the STREAMED side of a broadcast hash join (the
    nightly batch's band rows are broadcast), so the index is read
    map-only: no shuffle of corpus data, no corpus text rescan. Batch
    band rows falling in a corpus-oversized bucket are dropped first via
    a broadcast anti-join against the tiny precomputed ``oversized``
    relation (same degenerate-clique guard as ``lsh_candidate_pairs``).

    Empty docs have NULL band keys on both sides and never equi-join.
    """
    idx = (index_bands if index_bands is not None
           else spark.read.parquet(index_path + "/bands"))
    idx = idx.select("corpus_id", "band", "band_key")
    oversized = spark.read.parquet(index_path + "/oversized")
    if new_band_rows is None:
        new_band_rows = lsh_band_rows(new_df, id_col, text,
                                      num_perms=num_perms, bands=bands,
                                      seed=seed)
    new_bands = F.broadcast(
        new_band_rows
        .withColumnRenamed("_id", "new_id")
        .join(F.broadcast(oversized), ["band", "band_key"], "left_anti")
    )
    return (
        idx.join(new_bands, ["band", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def incremental_dedup_report(spark, new_df: DataFrame, id_col: str,
                             index_path: str, text: str = "text", *,
                             num_perms: int = DEFAULT_PERMS,
                             bands: int = DEFAULT_BANDS,
                             seed: int = MINHASH_SEED,
                             max_bucket: int | None = None,
                             index_bands: DataFrame | None = None) -> DataFrame:
    """Per-new-doc keep/drop decision for an incremental dedup pass:
    (id, corpus_dup, batch_dup_of, keep). ``index_bands`` is forwarded to
    :func:`incremental_lsh_matches`.

    - ``corpus_dup``: the doc LSH-collides with at least one indexed
      corpus doc (via ``incremental_lsh_matches`` — index streamed,
      batch broadcast).
    - ``batch_dup_of``: the smallest EARLIER batch doc it collides with
      (``lsh_candidate_pairs`` within the batch, same ``max_bucket``
      cap), NULL if none — so exactly one member of each batch-internal
      clique survives.
    - ``keep`` = NOT corpus_dup AND batch_dup_of IS NULL: the rows to
      append to the corpus (and whose band rows to append to the index).

    Both flag relations are bounded by the batch size; the joins back
    onto the batch are batch-scale, never corpus-scale.
    """
    # ONE MinHash pass over the batch: both consumers below (index probe,
    # batch self-join) have different downstream shapes, so without this
    # Catalyst would run the Arrow minhash kernel twice over the batch
    # text. localCheckpoint (bounded by the batch) pins it.
    nb = lsh_band_rows(new_df, id_col, text, num_perms=num_perms,
                       bands=bands, seed=seed).localCheckpoint(eager=True)
    matches = incremental_lsh_matches(
        spark, new_df, id_col, index_path, text,
        num_perms=num_perms, bands=bands, seed=seed,
        index_bands=index_bands, new_band_rows=nb)
    corpus_flag = (matches.select("new_id").distinct()
                   .withColumn("_corpus_dup", F.lit(True)))
    batch_pairs = lsh_candidate_pairs(
        new_df, id_col, text, num_perms=num_perms, bands=bands,
        seed=seed, max_bucket=max_bucket, band_rows=nb)
    earlier = batch_pairs.groupBy("id_b").agg(
        F.min("id_a").alias("batch_dup_of"))
    return (
        new_df.select(id_col)
        .join(corpus_flag, F.col(id_col) == F.col("new_id"), "left")
        .drop("new_id")
        .join(earlier, F.col(id_col) == F.col("id_b"), "left")
        .drop("id_b")
        .select(
            id_col,
            F.coalesce(F.col("_corpus_dup"), F.lit(False)).alias("corpus_dup"),
            "batch_dup_of",
            (F.col("_corpus_dup").isNull()
             & F.col("batch_dup_of").isNull()).alias("keep"),
        )
    )


def simhash_table(df: DataFrame, id_col: str, text: str = "text", *,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprints as DataFrame[(_id, _sh)]: bit i is the sign of
    the sum over the doc's distinct token ids of +/-1 by bit i of the id,
    so near-dup docs differ in few bits. Doc-local vectorized kernel with
    zero token shuffle (``_simhash_arrow``; measured 5-10x faster than the
    Catalyst form at 2M web-like docs, value parity equality-tested)."""
    return _simhash_arrow(df, id_col, text, bits=bits)


def _simhash_table_catalyst(df: DataFrame, id_col: str, text: str = "text", *,
                            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprints as DataFrame[(_id, _sh)] on the Catalyst path:
    explode -> distinct (doc, token) -> djb2 once per DISTINCT token
    (``with_djb2``) -> ``bits`` columnar bit-count sums. Scale shape: one
    (doc, token) distinct shuffle + one groupBy(doc) — the same shape as
    exact dedup — and the vocabulary join is AQE-sized (broadcast for real
    vocabularies). ``_simhash_arrow`` runs it for ids whose rows span
    Arrow batches; the tests use it as the reference.

    Bit rule: bit i set iff the +/-1 vote sum over the doc's distinct
    token ids is > 0, i.e. 2 * count(ids with bit i) > n. Docs with no
    tokens fingerprint to 0 (empty vote vector).

    ``id_col`` is the document identity: rows sharing an id union their
    token sets into one fingerprint; NULL ids raise at runtime.
    """
    toks = _doc_tokens(df, id_col, text)
    vocab = with_djb2(toks.select("_tok").distinct(), "_tok", "_tid")
    joined = toks.join(vocab, "_tok")
    # parsed SQL strings, not per-bit Column chains: the Column-API form
    # costs ~6 py4j round-trips per bit twice over (~0.5 s per
    # construction at 32 bits from the driver, paid on every query build)
    ones = [F.expr(f"sum(shiftright(_tid, {i}) & 1)").alias(f"_o{i}")
            for i in range(bits)]
    votes = joined.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    sh = F.expr(" + ".join(
        ["CAST(0 AS BIGINT)"]
        + [f"(CASE WHEN _o{i} * 2 > _n THEN CAST({1 << i} AS BIGINT) "
           f"ELSE CAST(0 AS BIGINT) END)" for i in range(bits)]))
    fp = votes.select("_id", sh.alias("_sh"))
    base = df.select(_guarded_id(id_col)).distinct()
    return base.join(fp, "_id", "left").select(
        "_id", F.coalesce("_sh", F.lit(0).cast("bigint")).alias("_sh"))


def _simhash_arrow(df: DataFrame, id_col: str, text: str = "text", *,
                   bits: int = SIMHASH_BITS) -> DataFrame:
    """Doc-local SimHash: one narrow ``mapInArrow`` pass (tokenize, per-doc
    distinct token ids via a packed (doc, tid) unique, per-bit +/- votes,
    fingerprint — all vectorized numpy), then a thin per-id aggregate. No
    token stream ever shuffles.

    Exactness guard for the union-by-id contract: unlike MinHash mins,
    SimHash votes are NOT idempotent-mergeable, so an id whose rows span
    Arrow batches cannot be finished doc-locally. Those ids are detected
    in the per-id aggregate (partial count > 1) and recomputed exactly
    through the Catalyst table form over just their rows — with AQE the
    recompute branch collapses to an empty relation (no second corpus
    scan) when every id is unique, the overwhelmingly common shape."""
    import numpy as np
    import pyarrow as pa

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"_id {id_type}, _sh LONG"
    proj = df.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))

    def fold(batches):
        import pyarrow.compute as pc

        from .. import _arrow_np as anp
        from ..memtune import tune_worker
        from ..sketches.hashing import djb2_batch

        tune_worker()
        for batch in batches:
            ids = batch.column(0)
            if ids.null_count:
                raise ValueError(f"fingerprint tables require non-null {id_col}")
            enc = pc.dictionary_encode(ids)
            codes = anp.values(enc.indices, np.int64)
            uids = enc.dictionary
            g = len(uids)
            flat_ne, row = anp.doc_tokens(batch.column(1))
            didx = codes[row]
            # djb2 once per batch-distinct token, gathered per occurrence
            # (same values as hashing each occurrence; the unique() below
            # must still dedupe on tid — the vote domain is the hash
            # VALUE, so two tokens colliding in djb2 count once, exactly
            # as the Catalyst twin and the oracle replay it)
            enc_t = flat_ne.dictionary_encode()
            tid = djb2_batch(enc_t.dictionary)[
                anp.values(enc_t.indices)
            ]  # < LONG_PRIME < 2^33
            # per-doc distinct (doc, token): pack into one int64 key
            # (doc index < 2^29 per batch, tid < 2^33 -> 63 bits)
            uk = np.unique((didx << np.int64(34)) | tid)
            ud = uk >> np.int64(34)
            ut = uk & np.int64((1 << 34) - 1)
            n = np.bincount(ud, minlength=g).astype(np.int64)
            fp = np.zeros(g, dtype=np.int64)
            for i in range(bits):
                ones = np.bincount(
                    ud, weights=((ut >> i) & 1).astype(np.float64), minlength=g
                ).astype(np.int64)
                fp |= (2 * ones > n).astype(np.int64) << i
            # n == 0 (no tokens / NULL text) leaves fp 0 — same as the
            # table form's coalesce(_sh, 0)
            yield pa.RecordBatch.from_pydict(
                {"_id": uids, "_sh": anp.array(fp)})

    partials = proj.mapInArrow(fold, out_schema)
    # _id and _sh are never NULL (the fold raises on a NULL id), so this
    # filter keeps every row. It makes both branches below read min(_sh)
    # and filter _id alike (the join infers that filter for its side), so
    # they plan one partial aggregate and share one Exchange: the fold
    # kernel runs once.
    agg = partials.groupBy("_id").agg(
        F.min("_sh").alias("_sh"), F.count(F.lit(1)).alias("_c")) \
        .filter(F.col("_id").isNotNull() & F.col("_sh").isNotNull())
    clean = agg.filter(F.col("_c") == 1).select("_id", "_sh")
    dup_ids = agg.filter(F.col("_c") > 1).select(F.col("_id").alias("__dup_id"))
    dup_src = df.join(F.broadcast(dup_ids),
                      F.col(id_col) == F.col("__dup_id"), "inner") \
        .drop("__dup_id")
    dup_fixed = _simhash_table_catalyst(dup_src, id_col, text, bits=bits)
    return clean.unionByName(dup_fixed)


def simhash_near_dups(df: DataFrame, id_col: str, text: str = "text", *,
                      bits: int = SIMHASH_BITS, bands: int = 4,
                      max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into ``bands`` chunks,
    self-join on (band, chunk), verify candidates exactly with
    bit_count(a XOR b) <= max_hamming.

    Pigeonhole guarantee: any pair within hamming distance < bands differs
    in at most bands-1 bit positions, so at least one band is identical —
    with the default bands=4 > max_hamming=3 no qualifying pair is missed.
    Scale shape: the only shuffle is on the band chunks (same trade as
    MinHash-LSH banding); verification is O(candidates)."""
    if max_hamming >= bands:
        raise ValueError("guarantee requires bands > max_hamming")
    rpb = bits // bands
    mask = (1 << rpb) - 1
    base = simhash_table(df, id_col, text, bits=bits)
    chunks = F.array(*[
        F.shiftright(F.col("_sh"), i * rpb).bitwiseAND(F.lit(mask)).cast("bigint")
        for i in range(bands)
    ])
    band_rows = base.select(
        "_id", "_sh", F.posexplode(chunks).alias("band", "chunk"))
    left = band_rows.select("band", "chunk", F.col("_id").alias("id_a"),
                            F.col("_sh").alias("sh_a"))
    right = band_rows.select("band", "chunk", F.col("_id").alias("id_b"),
                             F.col("_sh").alias("sh_b"))
    cands = (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_set(text: str = "text", n: int = 3) -> Column:
    """Distinct token n-grams (joined with 0x1f) — shingles for Jaccard."""
    toks = F.filter(F.split(F.col(text), " "), lambda t: t != F.lit(""))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i, n), "\x1f"),
    )
    return F.array_distinct(grams)


def jaccard_bp(set_a: Column, set_b: Column) -> Column:
    """Jaccard similarity in basis points (floored) — integer-exact."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("bigint")
    union = F.size(F.array_union(set_a, set_b)).cast("bigint")
    return F.floor(inter * 10000.0 / F.greatest(union, F.lit(1))).cast("bigint")


def exact_dup_groups(df: DataFrame, id_col: str, text: str = "text") -> DataFrame:
    """Exact dedup: md5 digest groupBy; returns digests with >1 distinct doc
    and the canonical (min) keeper id — the standard keep-one policy."""
    hashed = df.select(F.col(id_col).alias("_id"), F.md5(F.col(text)).alias("digest"))
    return (
        hashed.groupBy("digest")
        .agg(F.countDistinct("_id").alias("n_docs"), F.min("_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_keep_canonical(df: DataFrame, id_col: str, text: str = "text") -> DataFrame:
    """The cleaned corpus: one row per distinct text, keeping the minimum id
    (keep-first policy). This is the operator a training-data pipeline
    actually runs; ``exact_dup_groups`` is its reporting companion.

    Plan shape: one shuffle on the 128-bit digest (groupBy min) + a
    broadcast-free semi-join back on (digest, id) — at 100 TB the heavy
    relation shuffles once on a uniform key, no skew (identical docs all
    land on one digest, but the aggregation is partial/final so the hot
    digest reduces map-side)."""
    hashed = df.withColumn("_digest", F.md5(F.col(text)))
    keepers = (
        hashed.groupBy("_digest").agg(F.min(F.col(id_col)).alias("_keep_id"))
    )
    return (
        hashed.join(
            keepers,
            (hashed["_digest"] == keepers["_digest"])
            & (hashed[id_col] == keepers["_keep_id"]),
        )
        .select(*[hashed[c] for c in df.columns])
    )


# --------------------------------------------------------------------------
# Duplicate-span detection (exact substring dedup signal)
# --------------------------------------------------------------------------

DUPSPAN_K = 8          # tokens per span (the unit of "substring")
DUPSPAN_MIN_DOCS = 2   # a span in >= this many distinct docs is a duplicate


def duplicate_span_stats(docs: DataFrame, *, id_col: str = "doc_id",
                         text: str = "text", k: int = DUPSPAN_K,
                         min_docs: int = DUPSPAN_MIN_DOCS) -> DataFrame:
    """Per-document duplicated-span statistics — the exact-substring-dedup
    signal used by LLM training-data pipelines (count every K-token span
    that also appears verbatim in >= ``min_docs`` OTHER-or-same distinct
    documents; suffix-array substring dedup a la "Deduplicating Training
    Data Makes Language Models Better" reduced to the fixed-K span case,
    which is what map-reduce engines can do exactly).

    Two corpus passes, both scale-safe:

    1. span document frequency: doc-local positional K-shingles (codegen
       ``transform``/``slice``, no Python), doc-local ``array_distinct``,
       ONE shuffle of distinct (span, doc) pairs into a partial/final
       count — the inverted-index shape. Spans seen in >= ``min_docs``
       docs form the dup dictionary, keyed by ``xxhash64(span)`` with the
       span strings kept per hash so a hash collision can never flip a
       count (same exactness trick as benchmark_contamination).
    2. per-doc scoring: re-shingle (positional, duplicates kept) and join
       the dictionary on the int64 hash. The dictionary is the SMALL side
       (duplicated spans are rare at web scale) — broadcast here; when it
       outgrows a broadcast, a Bloom probe on the hash
       (``joins.build_key_bloom`` + ``bloom_flag``) in front of a shuffle
       join keeps the corpus shuffle to the spans that may match.

    Returns one row per input doc: ``(doc_id, n_spans, dup_spans,
    has_dup)`` — docs shorter than K tokens keep ``n_spans = 0``.
    Integer columns only, so the result is engine-exact (oracle replays
    the same spans in SQL).

    r6: the span stream comes from ONE Arrow pass emitting doc-DISTINCT
    spans with their positional multiplicity (functions/text_arrow,
    guide §4.2 — replaces the interpreted-HOF transform/slice kernel
    that dominated this query's 17.7 s sf1.0 wall). The stream feeds
    both the dictionary build and the scoring join; with the kernel
    vectorized AND parallel, recomputing it per consumer measured
    FASTER than materializing the 2.3M-row string stream
    (localCheckpoint variant: 2.0 s vs 1.45 s at sf1.0) — and at 100 TB
    recompute-over-materialize is the safe default anyway. The
    doc-distinct form also removes the old corpus-wide
    ``ex.distinct()`` exchange: df counts stream rows per span, and
    positional counts ride the ``tf`` column."""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    st = ngram_tf_rows_arrow(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text).alias("text")),
        int(k))

    dic = (
        st.groupBy(F.col("ngram").alias("span"))
        .agg(F.count(F.lit(1)).alias("df"))   # rows are doc-distinct
        .filter(F.col("df") >= int(min_docs))
        .groupBy(F.xxhash64("span").alias("_h"))
        .agg(F.collect_list("span").alias("_dup_sp"))
    )
    hit = F.when(
        F.array_contains(
            F.coalesce("_dup_sp", F.expr("CAST(array() AS array<string>)")),
            F.col("span")), F.col("tf")).otherwise(F.lit(0).cast("bigint"))
    stats = (
        st.select(F.col("_id"), F.col("ngram").alias("span"), "tf")
        .withColumn("_h", F.xxhash64("span"))
        .join(F.broadcast(dic), "_h", "left")
        .groupBy("_id")
        .agg(F.sum("tf").alias("n_spans"),
             F.sum(hit).alias("dup_spans"))
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(stats, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            (F.coalesce("dup_spans", F.lit(0)) > 0).alias("has_dup"),
        )
    )
