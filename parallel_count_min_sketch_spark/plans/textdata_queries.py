"""Driver-contract queries for the training-data pipeline operators:
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), text analysis
(token stats, quality, language-ID, fingerprints), similarity search,
event windowing, binary-column plumbing. DuckDB oracles replay the exact
integer arithmetic (seed-derived constants baked into the SQL).

Duplicate documents are PLANTED deterministically (union with a filtered
self-copy under shifted ids) so dedup queries have non-trivial answers on
the pristine test tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import _arrow_np as anp
from ..functions import textstats as ts
from ..memtune import tune_worker
from ..operators import dedup as dd
from ..operators.similarity import cosine_topk
from ..sketches.hashing import MERSENNE_PRIME, affine_params
from ..sources.tables import load, load_spread
from ..config import djb2_sql_duckdb

DUP_OFFSET = 1_000_000  # planted duplicates: doc_id + offset, same text
KNN_QUERIES = [0, 1, 2]
KNN_K = 5
EMB_DIM = 64  # embeddings.embedding length (TESTDATA.md)


def _duck_fold_dot(a: str, b: str, dim: int = EMB_DIM) -> str:
    """Replicate Spark's ``similarity._dot_sql`` (zip_with + aggregate)
    EXACTLY: a left fold of double products starting at 0.0. DuckDB's
    list_dot_product uses a different summation order/precision and can
    flip floor(cos*1e4) or a rank at the ulp level (bit for identical
    vectors where cos == 1)."""
    prods = (f"list_transform(range(1, {dim} + 1), "
             f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))")
    return f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {prods}), (acc, v) -> acc + v)"


def _docs_with_dups(spark: SparkSession, sf_dir: str,
                    spread: bool = True) -> DataFrame:
    # load_spread: parallelism floor for the single-split fixture files —
    # the MinHash/SimHash Arrow kernels downstream otherwise run on one
    # core (sources/tables.load_spread; guide §2/§6). ``spread=False``
    # for consumers whose map side is trivial (md5 digest) — the extra
    # exchange measured as a net loss there.
    docs = (load_spread(spark, sf_dir, "documents", "doc_id", "text")
            if spread else
            load(spark, sf_dir, "documents").select("doc_id", "text"))
    dups = docs.filter(F.col("doc_id") % 10 == 0) \
        .select((F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text")
    return docs.unionByName(dups)


_DUCK_DOCS_WITH_DUPS = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One Arrow pass for all five signals (functions/text_arrow, guide
    # §4.2) — replaces five textstats expression trees whose HOF lambdas
    # (filter/aggregate over the token array) evaluated interpreted;
    # value-identical (test_textdata_ops::test_text_quality_arrow_parity).
    from ..functions.text_arrow import text_quality_stats_arrow

    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    return text_quality_stats_arrow(
        docs, ts.STOPWORDS, ts.BPE_ISH_PATTERN).orderBy("doc_id")


SQL_TEXT_QUALITY = f"""
SELECT doc_id,
       {ts.duck_n_tokens('text')} AS n_tokens,
       {ts.duck_bpe_ish_token_count('text')} AS bpe_ish_tokens,
       {ts.duck_avg_token_len_bp('text')} AS avg_token_len_bp,
       {ts.duck_stopword_ratio_bp('text')} AS stopword_ratio_bp,
       {ts.duck_quality_score_bp('text')} AS quality_score_bp
FROM documents ORDER BY doc_id
"""


SHORT_DOC_TOKENS = 50  # the "too short to train on" cut


def q_host_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation statistics (the RefinedWeb/CCNet-style
    per-host decision table: filter or keep a whole domain before
    touching its documents): per source host — doc count, token mass,
    mean quality / stopword-ratio in basis points (integer DIV, both
    engines hash identically), and the share of too-short docs.

    Scale shape: ONE map-side-combinable groupBy(source) over codegen
    textstat expressions — the 100-TB side never shuffles rows, only the
    per-partition (host, partial-aggregate) records; output is bounded by
    the number of hosts."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        ts.n_tokens("text").alias("nt"),
        ts.quality_score_bp("text").alias("q"),
        ts.stopword_ratio_bp("text").alias("sw"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.expr("sum(q) div count(1)").alias("mean_quality_bp"),
            F.expr("sum(sw) div count(1)").alias("mean_stopword_bp"),
            F.expr(f"(sum(CASE WHEN nt < {SHORT_DOC_TOKENS} THEN 1 ELSE 0 END)"
                   " * CAST(10000 AS BIGINT)) div count(1)")
            .alias("short_share_bp"),
        )
        .orderBy("source")
    )


def _sql_host_quality_profile() -> str:
    return f"""
WITH per_doc AS (
  SELECT source,
         {ts.duck_n_tokens('text')} AS nt,
         {ts.duck_quality_score_bp('text')} AS q,
         {ts.duck_stopword_ratio_bp('text')} AS sw
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_quality_bp,
       CAST(SUM(sw) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_stopword_bp,
       (CAST(SUM(CASE WHEN nt < {SHORT_DOC_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
         * CAST(10000 AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS short_share_bp
FROM per_doc GROUP BY source ORDER BY source
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", ts.lang_id_pred("text").alias("pred_lang")).orderBy("doc_id")


SQL_LANG_ID = f"""
SELECT doc_id, {ts.duck_lang_id_pred('text')} AS pred_lang
FROM documents ORDER BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", ts.doc_fingerprint("text").alias("fingerprint")).orderBy("doc_id")


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {ts.duck_doc_fingerprint('text')} AS fingerprint
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir, spread=False)
    return dd.exact_dup_groups(docs, "doc_id").orderBy("digest")


SQL_DEDUP_EXACT = f"""
WITH docs AS ({_DUCK_DOCS_WITH_DUPS})
SELECT md5(text) AS digest,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_id
FROM docs GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1 ORDER BY digest
"""


def q_dedup_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus after exact dedup (keep-min-id policy) — the
    pipeline-facing operator; returns the surviving doc ids."""
    docs = _docs_with_dups(spark, sf_dir)
    return dd.dedup_keep_canonical(docs, "doc_id").select("doc_id").orderBy("doc_id")


SQL_DEDUP_KEPT_DOCS = f"""
WITH docs AS ({_DUCK_DOCS_WITH_DUPS}),
hashed AS (SELECT doc_id, md5(text) AS digest FROM docs),
keepers AS (SELECT digest, MIN(doc_id) AS keep_id FROM hashed GROUP BY digest)
SELECT h.doc_id FROM hashed h JOIN keepers k
  ON k.digest = h.digest AND k.keep_id = h.doc_id
ORDER BY doc_id
"""


def _duck_token_ids(text_expr: str) -> str:
    """Distinct token ids via the byte-exact djb2 fold (same emitter as the
    CMS oracle path — config.djb2_sql_duckdb)."""
    return (
        f"list_transform(list_distinct(list_filter(string_split({text_expr}, ' '), t -> t <> '')), "
        f"t -> {djb2_sql_duckdb('t')})"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.minhash_long(docs, "doc_id").orderBy("doc_id", "perm")


def _sql_minhash() -> str:
    a, b = affine_params(dd.MINHASH_SEED, dd.DEFAULT_PERMS)
    perms = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS perm, "
        f"list_min(list_transform(ids, x -> ({int(a[j])} * (x % {MERSENNE_PRIME}) + {int(b[j])}) % {MERSENNE_PRIME})) AS minhash "
        f"FROM with_ids"
        for j in range(dd.DEFAULT_PERMS)
    )
    return f"""
WITH with_ids AS (SELECT doc_id, {_duck_token_ids('text')} AS ids FROM documents)
SELECT doc_id, CAST(perm AS INT) AS perm, minhash FROM ({perms})
ORDER BY doc_id, perm
"""


LSH_MAX_BUCKET = 64  # drop degenerate buckets (near-identical cliques)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    return dd.lsh_candidate_pairs(docs, "doc_id", max_bucket=LSH_MAX_BUCKET) \
        .orderBy("id_a", "id_b")


def _duck_lsh_sizes_ctes() -> str:
    """The band-key replay shared by the lsh_pairs / lsh_bucket_stats /
    split_leakage oracles: docs -> token-id sets -> 32 MinHash mins -> 4
    band keys -> per-(band, band_key) bucket sizes. The signature/band
    SQL itself comes from _duck_band_ctes — ONE emitter for every LSH
    oracle (the incremental_dedup oracle uses the same one per side), so
    fold constants can never desynchronize between them."""
    return f"""
WITH docs AS ({_DUCK_DOCS_WITH_DUPS}),
{_duck_band_ctes('lsh', 'docs')},
bands_all AS (SELECT * FROM lsh_bands),
sizes AS (SELECT band, band_key, COUNT(*) AS sz FROM bands_all GROUP BY 1, 2)"""


def _sql_lsh_pairs() -> str:
    return _duck_lsh_sizes_ctes() + f""",
bands AS (
  SELECT b.* FROM bands_all b JOIN sizes s USING (band, band_key)
  WHERE s.sz <= {LSH_MAX_BUCKET}
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
ORDER BY id_a, id_b
"""


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cap-sizing companion to lsh_pairs: bucket-size distribution and
    exactly what LSH_MAX_BUCKET drops (buckets, rows, s^2 pairs avoided) —
    the diagnostic a 100-TB run consults before choosing the cap."""
    docs = _docs_with_dups(spark, sf_dir)
    return dd.lsh_bucket_stats(docs, "doc_id", max_bucket=LSH_MAX_BUCKET)


def _sql_lsh_bucket_stats() -> str:
    return _duck_lsh_sizes_ctes() + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket_size,
       CAST(SUM(CASE WHEN sz > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS buckets_dropped,
       CAST(SUM(CASE WHEN sz > {LSH_MAX_BUCKET} THEN sz ELSE 0 END) AS BIGINT) AS rows_dropped,
       CAST(SUM(CASE WHEN sz > {LSH_MAX_BUCKET} THEN sz * sz ELSE 0 END) AS BIGINT) AS pairs_avoided
FROM sizes
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    return (dd.simhash_table(docs, "doc_id")
            .select(F.col("_id").alias("doc_id"), F.col("_sh").alias("simhash"))
            .orderBy("doc_id"))


def _sql_simhash() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(ids, x -> CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH with_ids AS (SELECT doc_id, {_duck_token_ids('text')} AS ids FROM documents)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM with_ids ORDER BY doc_id
"""


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs over documents with planted duplicates
    — banding, candidate join, and hamming verification all replayed by
    the oracle."""
    docs = _docs_with_dups(spark, sf_dir)
    return dd.simhash_near_dups(docs, "doc_id", max_hamming=1) \
        .orderBy("id_a", "id_b")


def _sql_simhash_near_dups() -> str:
    bands, bits, max_h = 4, dd.SIMHASH_BITS, 1
    rpb = bits // bands
    mask = (1 << rpb) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, (sh >> {i * rpb}) & {mask} AS chunk, sh FROM shs"
        for i in range(bands)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(ids, x -> CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return f"""
WITH docs AS ({_DUCK_DOCS_WITH_DUPS}),
with_ids AS (SELECT doc_id, {_duck_token_ids('text')} AS ids FROM docs),
shs AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sh FROM with_ids),
bands AS ({band_rows}),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sh AS sh_a, r.sh AS sh_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.chunk = r.chunk
  WHERE l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= {max_h}
ORDER BY id_a, id_b
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER extraction — the step after pair generation in a
    dedup pipeline (keep-one-per-cluster needs the transitive closure of
    the pair list, not the pairs): connected components of the SimHash
    near-dup graph via distributed min-label propagation with pointer
    jumping (operators/components.py — O(log diameter) rounds, two
    equi-join shuffles per round, lineage truncated per round). Output is
    (node, component = min doc id reachable), deterministic. The DuckDB
    oracle replays the FIXPOINT itself with a recursive CTE, so the
    iterative algorithm is value-gated, not just rows-gated."""
    from ..operators.components import connected_components

    docs = _docs_with_dups(spark, sf_dir)
    pairs = dd.simhash_near_dups(docs, "doc_id", max_hamming=1) \
        .select("id_a", "id_b")
    return connected_components(pairs, "id_a", "id_b").orderBy("node")


def _sql_cc_block() -> str:
    """The shared recursive-CTE fixpoint over the SimHash near-dup graph:
    CTE list `pairs → e (symmetrized) → n → cc → lbl(node, component)` —
    ONE copy of the closure SQL, consumed by both components oracles so
    a fix to the fixpoint can't silently diverge between them."""
    return f"""pairs AS ({_sql_simhash_near_dups()}),
e AS (SELECT id_a AS s, id_b AS t FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
n AS (SELECT DISTINCT s AS node FROM e),
cc AS (
  SELECT node, node AS comp FROM n
  UNION
  SELECT e.t AS node, cc.comp FROM cc JOIN e ON cc.node = e.s
),
lbl AS (SELECT node, CAST(MIN(comp) AS BIGINT) AS component
        FROM cc GROUP BY node)"""


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE {_sql_cc_block()}
SELECT node, component FROM lbl ORDER BY node
"""


def q_near_dedup_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup dedup pipeline output: SimHash pair
    generation → connected components → keep the canonical (min-id) doc
    of every cluster, plus every unclustered doc. The non-canonical set
    is tiny (cluster members minus one per cluster), so the final prune
    is a broadcast anti-join against the full corpus — the 100-TB side
    never shuffles. Returns (doc_id, n_chars) of the cleaned corpus."""
    from ..operators.components import connected_components

    docs = _docs_with_dups(spark, sf_dir)
    pairs = dd.simhash_near_dups(docs, "doc_id", max_hamming=1) \
        .select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    drop = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id"))
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def _sql_near_dedup_kept_docs() -> str:
    return f"""
WITH RECURSIVE {_sql_cc_block()},
drop_ids AS (SELECT node AS doc_id FROM lbl WHERE node <> component),
docs AS ({_DUCK_DOCS_WITH_DUPS})
SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS n_chars
FROM docs d ANTI JOIN drop_ids x ON d.doc_id = x.doc_id
ORDER BY d.doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard over adjacent-doc pairs (verification-style pairwise
    similarity on a candidate list)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), dd.ngram_set("text").alias("set_a"))
    b = docs.select((F.col("doc_id") - 1).alias("join_id"),
                    F.col("doc_id").alias("id_b"), dd.ngram_set("text").alias("set_b"))
    pairs = a.join(b, a.id_a == b.join_id)
    return pairs.select(
        "id_a", "id_b", dd.jaccard_bp(F.col("set_a"), F.col("set_b")).alias("jaccard_bp")
    ).orderBy("id_a")


def _sql_ngram_jaccard() -> str:
    grams = (
        "list_distinct(list_transform("
        "range(1, GREATEST(len(toks) - 2, 0) + 1), "
        "i -> array_to_string(list_slice(toks, i, i + 2), CHR(31))))"
    )
    return f"""
WITH toked AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents
),
sets AS (SELECT doc_id, {grams} AS grams FROM toked),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
  FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 7 = 0
)
SELECT id_a, id_b,
       CAST(FLOOR(len(list_intersect(ga, gb)) * 10000.0 /
            GREATEST(len(list_distinct(list_concat(ga, gb))), 1)) AS BIGINT) AS jaccard_bp
FROM pairs ORDER BY id_a
"""


def _duck_band_ctes(prefix: str, src: str) -> str:
    """Parameterized band-key replay: ids -> 32 MinHash mins -> 4 folded
    band keys for the docs in CTE ``src``, emitted as ``{prefix}_bands``
    (doc_id, band, band_key). Shared by the incremental-dedup oracle's
    corpus and batch sides (same constants as _duck_lsh_sizes_ctes)."""
    a, b = affine_params(dd.MINHASH_SEED, dd.DEFAULT_PERMS)
    rows_per_band = dd.DEFAULT_PERMS // dd.DEFAULT_BANDS
    sig_cols = ", ".join(
        f"list_min(list_transform(ids, x -> ({int(a[j])} * (x % {MERSENNE_PRIME}) + {int(b[j])}) % {MERSENNE_PRIME})) AS s{j}"
        for j in range(dd.DEFAULT_PERMS)
    )
    band_keys = []
    for i in range(dd.DEFAULT_BANDS):
        expr = "CAST(0 AS BIGINT)"
        for j in range(i * rows_per_band, (i + 1) * rows_per_band):
            expr = f"(({expr}) * 1000003 + s{j}) % {MERSENNE_PRIME}"
        band_keys.append(
            f"SELECT doc_id, {i} AS band, {expr} AS band_key FROM {prefix}_sigs")
    return f"""
{prefix}_ids AS (SELECT doc_id, {_duck_token_ids('text')} AS ids FROM {src}),
{prefix}_sigs AS (SELECT doc_id, {sig_cols} FROM {prefix}_ids),
{prefix}_bands AS ({' UNION ALL '.join(band_keys)})"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup of a NIGHTLY BATCH against a PERSISTED
    corpus LSH index (operators/dedup.py::write_lsh_index /
    incremental_dedup_report) — the append-only regime a 100-TB crawl
    pipeline actually runs in: the corpus is indexed ONCE (band rows,
    ~1000x smaller than the text, plus the precomputed oversized-bucket
    keys); each batch is then deduped by broadcasting ITS band rows into
    a map-only scan of the index — no corpus text rescan, no shuffle of
    corpus data, cost O(index) read + O(batch) compute.

    Fixture split (deterministic): corpus = documents with doc_id % 7
    <> 3; batch = the held-out % 7 = 3 docs (mostly novel) plus planted
    byte-identical copies (doc_id + DUP_OFFSET) of corpus docs with
    doc_id % 10 = 0 — so the report exercises corpus hits, batch-internal
    cliques, and genuinely new docs at once. Output per batch doc:
    corpus_dup, batch_dup_of (smallest earlier colliding batch doc),
    keep. The oracle replays both sides' MinHash band keys, the corpus
    bucket cap, and both joins value-for-value."""
    import shutil
    import tempfile

    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    batch = docs.filter(F.col("doc_id") % 7 == 3).unionByName(
        docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 7 != 3))
        .select((F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"))
    tmp = tempfile.mkdtemp(prefix="pcms_lsh_index_")
    try:
        dd.write_lsh_index(corpus, "doc_id", tmp, max_bucket=LSH_MAX_BUCKET)
        report = dd.incremental_dedup_report(
            spark, batch, "doc_id", tmp, max_bucket=LSH_MAX_BUCKET)
        # materialize executor-side before the index tempdir vanishes;
        # bounded by the batch (not the corpus), so no driver collect
        report = report.orderBy("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return report


def _sql_incremental_dedup() -> str:
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0 AND doc_id % 7 <> 3),
{_duck_band_ctes('c', 'corpus')},
{_duck_band_ctes('b', 'batch')},
c_sizes AS (SELECT band, band_key, COUNT(*) AS sz FROM c_bands GROUP BY 1, 2),
ok_c AS (SELECT cb.* FROM c_bands cb JOIN c_sizes s USING (band, band_key)
         WHERE s.sz <= {LSH_MAX_BUCKET}),
cm AS (SELECT DISTINCT bb.doc_id AS new_id
       FROM b_bands bb JOIN ok_c c USING (band, band_key)),
b_sizes AS (SELECT band, band_key, COUNT(*) AS sz FROM b_bands GROUP BY 1, 2),
ok_b AS (SELECT bb.* FROM b_bands bb JOIN b_sizes s USING (band, band_key)
         WHERE s.sz <= {LSH_MAX_BUCKET}),
bp AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       FROM ok_b l JOIN ok_b r
       ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
earlier AS (SELECT id_b AS doc_id, MIN(id_a) AS batch_dup_of FROM bp GROUP BY 1)
SELECT b.doc_id,
       (cm.new_id IS NOT NULL) AS corpus_dup,
       e.batch_dup_of,
       (cm.new_id IS NULL AND e.batch_dup_of IS NULL) AS keep
FROM batch b
LEFT JOIN cm ON cm.new_id = b.doc_id
LEFT JOIN earlier e ON e.doc_id = b.doc_id
ORDER BY b.doc_id
"""


# deterministic messy-URL synthesis shared by the Spark query and the
# oracle: mixed-case scheme/host, explicit default port, tracking params,
# unsorted params, fragments — every rule the canonicalizer must apply.
# (CAST AS STRING: DuckDB accepts STRING as a VARCHAR alias, so the text
# is valid in both engines verbatim.)
_MESSY_URL_SQL = (
    "'HTTPS://' || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)"
    " || '.Example.com:443/docs/' || CAST(doc_id AS STRING) ||"
    " (CASE WHEN doc_id % 3 = 0 THEN"
    " '?utm_source=feed&id=' || CAST(doc_id % 50 AS STRING) || '&ref=tw'"
    " WHEN doc_id % 3 = 1 THEN '?b=2&a=1&utm_campaign=x'"
    " ELSE '' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py::canonicalize_urls) — the
    normalization pass before URL-level dedup: lowercase scheme/host,
    strip default ports and fragments, drop tracking params, sort the
    rest. Pure whole-stage-codegen string expressions per row: no
    shuffle, no Python — the 100-TB cost is one map-only pass. Messy
    URLs are synthesized deterministically from (doc_id, source) with
    every rule exercised; the oracle replays rule-for-rule in DuckDB."""
    from ..functions.urls import canonicalize_urls

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    docs = docs.withColumn("url", F.expr(_MESSY_URL_SQL))
    return canonicalize_urls(docs, "url").select(
        "doc_id", "canon_url", "n_dropped_params", "had_fragment"
    ).orderBy("doc_id")


def _sql_url_canonicalize() -> str:
    from ..functions.urls import canonical_steps_duckdb

    return f"""
WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents)
SELECT doc_id, {canonical_steps_duckdb('url')}
FROM raw ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity search / events / binary
# ---------------------------------------------------------------------------

def q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    return cosine_topk(emb, "vec_id", "embedding", KNN_QUERIES, KNN_K) \
        .orderBy("query_id", "rank")


SQL_EMBEDDING_KNN = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id IN ({', '.join(str(x) for x in KNN_QUERIES)})
),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         {_duck_fold_dot('q.qvec', 'e.embedding')} /
         (sqrt({_duck_fold_dot('q.qvec', 'q.qvec')}) *
          sqrt({_duck_fold_dot('e.embedding', 'e.embedding')})) AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id,
       CAST(FLOOR(cos * 10000.0) AS BIGINT) AS cosine_bp
FROM ranked WHERE rank <= {KNN_K} ORDER BY query_id, rank
"""


ANN_DIM = EMB_DIM  # embeddings table has ONE dimensionality
ANN_K = 5
ANN_PLANES = 8
ANN_TABLES = 2


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe LSH ANN over the embeddings table — fully
    deterministic (seed-derived hyperplanes, exact rescoring of the
    candidate union), so the oracle replays plane signs, probe buckets,
    and the cosine ranking value-for-value."""
    from ..operators.similarity import lsh_ann_topk_multiprobe

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    return lsh_ann_topk_multiprobe(
        emb, "vec_id", "embedding", KNN_QUERIES, dim=ANN_DIM, k=ANN_K,
        n_planes=ANN_PLANES, n_tables=ANN_TABLES, probe_flips=1,
    ).orderBy("query_id", "rank")


def _sql_ann_multiprobe() -> str:
    from ..operators.similarity import _plane_expr, _table_seed

    def bucket_sql(tbl: int) -> str:
        bits = []
        for i in range(ANN_PLANES):
            w = _plane_expr(i, ANN_DIM, "embedding", _table_seed(tbl))
            dot = "CAST(0 AS DOUBLE)"
            for d, wd in enumerate(w):
                dot = f"({dot} + embedding[{d + 1}] * CAST({wd!r} AS DOUBLE))"
            bits.append(f"(CASE WHEN {dot} > 0 THEN CAST({1 << i} AS BIGINT) "
                        f"ELSE CAST(0 AS BIGINT) END)")
        return " + ".join(bits)

    corpus_rows = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM bucketed"
        for t in range(ANN_TABLES)
    )
    qlong_rows = " UNION ALL ".join(
        f"SELECT vec_id AS qid, {t} AS tbl, b{t} AS home FROM bucketed "
        f"WHERE vec_id IN ({', '.join(str(x) for x in KNN_QUERIES)})"
        for t in range(ANN_TABLES)
    )
    probe_rows = " UNION ALL ".join(
        ["SELECT qid, tbl, home AS bucket FROM qlong"]
        + [f"SELECT qid, tbl, xor(home, CAST({1 << i} AS BIGINT)) AS bucket FROM qlong"
           for i in range(ANN_PLANES)]
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         {', '.join(f'{bucket_sql(t)} AS b{t}' for t in range(ANN_TABLES))}
  FROM embeddings
),
corpus AS ({corpus_rows}),
qlong AS ({qlong_rows}),
probes AS ({probe_rows}),
cands AS (
  SELECT DISTINCT p.qid, c.vec_id AS nid
  FROM corpus c JOIN probes p ON c.tbl = p.tbl AND c.bucket = p.bucket
  WHERE c.vec_id <> p.qid
),
scored AS (
  SELECT cands.qid, cands.nid,
         {_duck_fold_dot('qe.embedding', 'ne.embedding')} /
         (sqrt({_duck_fold_dot('qe.embedding', 'qe.embedding')}) *
          sqrt({_duck_fold_dot('ne.embedding', 'ne.embedding')})) AS cos
  FROM cands
  JOIN embeddings qe ON qe.vec_id = cands.qid
  JOIN embeddings ne ON ne.vec_id = cands.nid
),
ranked AS (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id,
       CAST(FLOOR(cos * 10000.0) AS BIGINT) AS cosine_bp
FROM ranked WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


IVF_CENTROIDS = 8
IVF_NPROBE = 2
KM_ITERS = 3

# centroid memo: k-means over a given corpus is a deterministic BUILD
# artifact (same seed + same data -> same centroids); production IVF
# computes the index once and serves many queries from it. Re-running the
# contract query in one session reuses the built centroids instead of
# re-running the Lloyd jobs. Keyed by (sf_dir, k, iters) — a different
# corpus or config rebuilds.
_KMEANS_MEMO: dict[tuple, list] = {}


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over the embeddings table with SEEDED DISTRIBUTED
    K-MEANS centroids (integer-quantized Lloyd iterations — exact,
    summation-order-independent arithmetic, so the DuckDB oracle replays
    init, every assignment, every centroid update, and the final
    inverted-list ANN value-for-value). Recall vs the first-n-ids fallback
    is measured in tests/test_textdata_ops.py."""
    from ..operators.similarity import (
        KMEANS_SCALE,
        ivf_ann_topk,
        kmeans_int_centroids,
    )

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id", "embedding")
    memo_key = (sf_dir, IVF_CENTROIDS, KM_ITERS)
    qc = _KMEANS_MEMO.get(memo_key)
    if qc is None:
        qc = kmeans_int_centroids(emb, "vec_id", "embedding", EMB_DIM,
                                  IVF_CENTROIDS, KM_ITERS)
        _KMEANS_MEMO[memo_key] = qc
    cvecs = [[v / KMEANS_SCALE for v in c] for c in qc]
    return ivf_ann_topk(
        emb, "vec_id", "embedding", KNN_QUERIES, dim=EMB_DIM, k=ANN_K,
        nprobe=IVF_NPROBE, centroid_vecs=cvecs,
    ).orderBy("query_id", "rank")


def _sql_kmeans_cents_ctes() -> str:
    """The k-means replay: quantize -> seeded init -> KM_ITERS unrolled
    Lloyd iterations in exact integer arithmetic (floor-div means — DuckDB
    ``//`` truncates, so Python floor semantics are spelled out) ->
    float + normalized centroids as ``cents(cid, cvec)``."""
    from ..operators.similarity import KMEANS_SCALE, KMEANS_SEED

    a, b = affine_params(KMEANS_SEED, 1)
    aj, bj = int(a[0]), int(b[0])
    dim = EMB_DIM
    scale = f"CAST({KMEANS_SCALE} AS DOUBLE)"

    def dist(q: str, c: str) -> str:
        return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
                f"list_transform(range(1, {dim} + 1), "
                f"i -> ({q}[i]-{c}[i])*({q}[i]-{c}[i]))), (acc, v) -> acc + v)")

    sums = ", ".join(f"SUM(qv[{i + 1}]) AS s{i}" for i in range(dim))

    def floordiv(s: str) -> str:
        # Python floor division for possibly-negative sums (cnt > 0)
        return (f"(CASE WHEN {s} < 0 AND {s} % s.cnt <> 0 "
                f"THEN {s} // s.cnt - 1 ELSE {s} // s.cnt END)")

    newlist = "[" + ", ".join(floordiv(f"s.s{i}") for i in range(dim)) + "]"
    iter_ctes = []
    prev = "c0"
    for t in range(1, KM_ITERS + 1):
        iter_ctes.append(f"""
d{t} AS (
  SELECT q.vec_id, q.qv, c.cid, {dist('q.qv', 'c.cv')} AS dist
  FROM qemb q CROSS JOIN {prev} c
),
a{t} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT vec_id, qv, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d{t}
  ) WHERE rn = 1
),
s{t} AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cnt, {sums} FROM a{t} GROUP BY cid),
c{t} AS (
  SELECT p.cid, CASE WHEN s.cid IS NULL THEN p.cv ELSE {newlist} END AS cv
  FROM {prev} p LEFT JOIN s{t} s ON s.cid = p.cid
)""")
        prev = f"c{t}"
    iters_sql = ",".join(iter_ctes)
    norm = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, {dim} + 1), i -> f[i]*f[i])), "
            "(acc, v) -> acc + v)")
    return f"""
qemb AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale} + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qv
  FROM embeddings
),
initord AS (
  SELECT vec_id, qv,
         ({aj} * (vec_id % {MERSENNE_PRIME}) + {bj}) % {MERSENNE_PRIME} AS ord
  FROM qemb
),
c0 AS (
  SELECT cid, cv FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY ord ASC, vec_id ASC) - 1 AS cid, qv AS cv
    FROM initord
  ) WHERE cid < {IVF_CENTROIDS}
),{iters_sql},
cvf AS (
  SELECT cid, list_transform(cv, v -> CAST(v AS DOUBLE) / {scale}) AS f
  FROM {prev}
),
cents AS (
  SELECT cid, list_transform(f, x -> x / sqrt({norm})) AS cvec FROM cvf
)"""


def _sql_ann_ivf() -> str:
    q_ids = ", ".join(str(x) for x in KNN_QUERIES)
    score = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
             f"list_transform(range(1, {EMB_DIM} + 1), "
             "i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])), (acc, v) -> acc + v)")
    cos = (f"{_duck_fold_dot('qe.embedding', 'ne.embedding')} / "
           f"(sqrt({_duck_fold_dot('qe.embedding', 'qe.embedding')}) * "
           f"sqrt({_duck_fold_dot('ne.embedding', 'ne.embedding')}))")
    return f"""
WITH {_sql_kmeans_cents_ctes()},
scoresv AS (
  SELECT e.vec_id, c.cid, {score} AS score
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
    FROM scoresv
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
    FROM scoresv WHERE vec_id IN ({q_ids})
  ) WHERE rn <= {IVF_NPROBE}
),
cands AS (
  SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM assigned a JOIN probes p ON a.cluster = p.cluster
  WHERE a.vec_id <> p.qid
),
scored AS (
  SELECT cands.qid, cands.nid, {cos} AS cos
  FROM cands
  JOIN embeddings qe ON qe.vec_id = cands.qid
  JOIN embeddings ne ON ne.vec_id = cands.nid
),
ranked AS (
  SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id,
       CAST(FLOOR(cos * 10000.0) AS BIGINT) AS cosine_bp
FROM ranked WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


NEAR_DUP_THRESHOLD_BP = 9500
EMB_MAX_BUCKET = 128  # degenerate-bucket cap: a bucket of s co-hashed
# vectors (zero-ish/boilerplate embeddings) would emit s^2 candidate pairs
# on one task — same guard as LSH_MAX_BUCKET on the text path.


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the embeddings table with
    planted duplicates (every 10th vector copied under a shifted id) —
    LSH-bucketed candidates (degenerate buckets > EMB_MAX_BUCKET dropped),
    exact rescoring, threshold filter. Oracle replays buckets + cap +
    cosine exactly."""
    from ..operators.similarity import embedding_near_dups

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), "embedding")
    both = emb.unionByName(dups)
    return embedding_near_dups(
        both, "vec_id", "embedding", dim=ANN_DIM,
        threshold_bp=NEAR_DUP_THRESHOLD_BP, n_planes=ANN_PLANES,
        n_tables=ANN_TABLES, max_bucket=EMB_MAX_BUCKET,
    ).orderBy("id_a", "id_b")


def _sql_embedding_near_dups() -> str:
    from ..operators.similarity import _plane_expr, _table_seed

    def bucket_sql(tbl: int) -> str:
        bits = []
        for i in range(ANN_PLANES):
            w = _plane_expr(i, ANN_DIM, "embedding", _table_seed(tbl))
            dot = "CAST(0 AS DOUBLE)"
            for d, wd in enumerate(w):
                dot = f"({dot} + embedding[{d + 1}] * CAST({wd!r} AS DOUBLE))"
            bits.append(f"(CASE WHEN {dot} > 0 THEN CAST({1 << i} AS BIGINT) "
                        f"ELSE CAST(0 AS BIGINT) END)")
        return " + ".join(bits)

    long_rows = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, b{t} AS bucket FROM bucketed"
        for t in range(ANN_TABLES)
    )

    cos = (f"{_duck_fold_dot('a.embedding', 'b.embedding')} / "
           f"(sqrt({_duck_fold_dot('a.embedding', 'a.embedding')}) * "
           f"sqrt({_duck_fold_dot('b.embedding', 'b.embedding')}))")
    return f"""
WITH emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_OFFSET} AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
),
bucketed AS (
  SELECT vec_id, embedding,
         {', '.join(f'{bucket_sql(t)} AS b{t}' for t in range(ANN_TABLES))}
  FROM emb
),
long AS ({long_rows}),
capped AS (
  SELECT vec_id, embedding, tbl, bucket FROM (
    SELECT l.*, COUNT(*) OVER (PARTITION BY tbl, bucket) AS _sz FROM long l
  ) WHERE _sz <= {EMB_MAX_BUCKET}
),
cands AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM capped l JOIN capped r ON l.tbl = r.tbl AND l.bucket = r.bucket
  WHERE l.vec_id < r.vec_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         CAST(FLOOR(({cos}) * 10000.0) AS BIGINT) AS cosine_bp
  FROM cands c
  JOIN emb a ON a.vec_id = c.id_a
  JOIN emb b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, cosine_bp FROM scored
WHERE cosine_bp >= {NEAR_DUP_THRESHOLD_BP}
ORDER BY id_a, id_b
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts by event type — the batch expression
    of the streaming aggregation (streaming/ runs the same plan on a
    stream)."""
    ev = load(spark, sf_dir, "events")
    # cents are rounded PER EVENT then integer-summed: a float SUM would be
    # partition-order dependent at the ulp level and could flip the floor
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"),
             F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
                "event_type", "cnt", "sum_value_cents")
        .orderBy("window_start_epoch", "event_type")
    )


SQL_EVENTS_WINDOW = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: treat text re-encoded as an opaque binary blob,
    extract typed metadata (length, magic sniff) — decode itself is the
    stubbed step in multimodal/."""
    docs = load(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("bigint").alias("byte_len"),
        (F.substring(F.col("text"), 1, 1) == F.lit("k")).alias("magic_k"),
    ).orderBy("doc_id")


SQL_BINARY_METADATA = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       (substring(text, 1, 1) = 'k') AS magic_k
FROM documents ORDER BY doc_id
"""


# image synthesis constants shared by the Spark kernel and the DuckDB
# oracle: per-doc deterministic 24-bit image, pixel value
# (doc_id*31 + y*97 + x*13 + c*7) % 256, dims w = 4 + doc_id%5,
# h = 4 + doc_id%3, nearest-neighbor resize to 4x4
IMG_WMOD, IMG_HMOD = 5, 3
IMG_RS = 4


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over a MIXED-FORMAT column through the pure-numpy
    codecs: a deterministic per-doc image is encoded to 24-bit BMP bytes
    (even doc_id) or binary P6 PPM bytes (odd doc_id), decoded back
    through ``decode_image`` — per-row magic dispatch into decode_bmp
    (header parse, row padding, BGR->RGB, bottom-up flip) or decode_ppm
    (token header, raw top-down RGB) — nearest-neighbor resized, and
    reduced to integer stats. The DuckDB oracle computes the SAME stats
    in closed form from the pixel formula plus each format's exact size
    arithmetic — any decoder or dispatch bug breaks the value hash."""
    import pyarrow as pa

    from ..multimodal.binary_ops import (
        decode_image,
        encode_bmp,
        encode_ppm,
        resize_nearest,
    )

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    out_schema = ("doc_id BIGINT, fmt STRING, width BIGINT, height BIGINT, "
                  "blob_bytes BIGINT, px_sum BIGINT, chan0_sum BIGINT, "
                  "resized_sum BIGINT")
    pa_schema = pa.schema(
        [("doc_id", pa.int64()), ("fmt", pa.string())]
        + [(n, pa.int64()) for n in (
            "width", "height", "blob_bytes", "px_sum", "chan0_sum",
            "resized_sum")])
    import numpy as np

    def kernel(batches):
        tune_worker()
        for batch in batches:
            ids = anp.values(batch.column(0), np.int64)
            cols = {n: [] for n in pa_schema.names}
            for did in ids.tolist():
                w, h = 4 + did % IMG_WMOD, 4 + did % IMG_HMOD
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                img = ((did * 31 + y * 97 + x * 13 + c * 7) % 256).astype(np.uint8)
                blob = encode_bmp(img) if did % 2 == 0 else encode_ppm(img)
                dec = decode_image(blob)  # the real dispatch+decode under test
                rs = resize_nearest(dec, IMG_RS, IMG_RS)
                cols["doc_id"].append(did)
                cols["fmt"].append("bmp" if did % 2 == 0 else "ppm")
                cols["width"].append(w)
                cols["height"].append(h)
                cols["blob_bytes"].append(len(blob))
                cols["px_sum"].append(int(dec.sum()))
                cols["chan0_sum"].append(int(dec[:, :, 0].sum()))
                cols["resized_sum"].append(int(rs.sum()))
            yield anp.batch(cols, pa_schema)

    return docs.mapInArrow(kernel, out_schema).orderBy("doc_id")


# blob size arithmetic per format: BMP = 54-byte headers + padded rows;
# PPM = "P6\n{w} {h}\n255\n" header (9 + digits) + raw w*h*3 pixels
SQL_IMAGE_STATS = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % {IMG_WMOD} AS w, 4 + doc_id % {IMG_HMOD} AS h
  FROM documents
),
px AS (
  SELECT d.doc_id,
         CAST(SUM((d.doc_id*31 + y.y*97 + x.x*13 + c.c*7) % 256) AS BIGINT) AS px_sum,
         CAST(SUM(CASE WHEN c.c = 0
                  THEN (d.doc_id*31 + y.y*97 + x.x*13) % 256 ELSE 0 END) AS BIGINT) AS chan0_sum
  FROM dims d
  CROSS JOIN range(0, 4 + {IMG_HMOD - 1}) y(y)
  CROSS JOIN range(0, 4 + {IMG_WMOD - 1}) x(x)
  CROSS JOIN range(0, 3) c(c)
  WHERE y.y < d.h AND x.x < d.w
  GROUP BY d.doc_id
),
rs AS (
  SELECT d.doc_id,
         CAST(SUM((d.doc_id*31 + ((i.i*d.h)//{IMG_RS})*97
                   + ((j.j*d.w)//{IMG_RS})*13 + c.c*7) % 256) AS BIGINT) AS resized_sum
  FROM dims d
  CROSS JOIN range(0, {IMG_RS}) i(i)
  CROSS JOIN range(0, {IMG_RS}) j(j)
  CROSS JOIN range(0, 3) c(c)
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
       CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       CAST(CASE WHEN d.doc_id % 2 = 0
                 THEN 54 + d.h * ((d.w*3 + 3)//4*4)
                 ELSE 9 + length(CAST(d.w AS VARCHAR))
                      + length(CAST(d.h AS VARCHAR)) + d.w * d.h * 3
            END AS BIGINT) AS blob_bytes,
       px.px_sum, px.chan0_sum, rs.resized_sum
FROM dims d JOIN px USING (doc_id) JOIN rs USING (doc_id)
ORDER BY doc_id
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-mix detection — the unicode-range profile that catches
    mixed-script spam, wrong language IDs, and transliteration noise
    before training: per doc the Latin / Cyrillic / CJK character counts
    and the dominant script. The synthetic corpus is ASCII, so non-Latin
    runs are PLANTED deterministically by doc_id (the pii_redaction
    pattern); counting is `regexp_count` over literal character-class
    ranges — the same pattern TEXT runs in Spark's Java regex and
    DuckDB's RE2 (no \\u escapes, no shorthand classes), whole-stage
    codegen, one map-only pass."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")

    # r6: one Arrow pass — the three regexp_count calls ran Java regex
    # over the full text three times; RE2 (pyarrow count_substring_regex)
    # counts the same literal character classes (the pattern set is
    # restricted to constructs with identical Java/RE2 semantics, the
    # property the DuckDB oracle already relies on). Guide §4.2.
    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tune_worker()
        empty = anp.from_list([""], pa.string())[0]
        for batch in batches:
            ids = batch.column(0)
            ids_np = anp.values(ids)
            suffix = np.where(
                ids_np % 3 == 0, " привет мир",
                np.where(ids_np % 4 == 1, " 你好世界", ""))
            t = pc.binary_join_element_wise(
                batch.column(1), anp.from_list(suffix.tolist(), pa.string()),
                empty)
            lat, cyr, cjk = (
                anp.values(pc.count_substring_regex(t, pat), np.int64)
                for pat in ("[a-zA-Z]", "[а-яА-Я]", "[一-鿿]"))
            dom = np.where(
                (cyr > 0) & (cyr >= cjk), "cyrillic",
                np.where(cjk > 0, "cjk",
                         np.where(lat > 0, "latin", "none")))
            yield pa.RecordBatch.from_pydict({
                "doc_id": ids,
                "latin_chars": anp.array(lat),
                "cyrillic_chars": anp.array(cyr),
                "cjk_chars": anp.array(cjk),
                "dominant_script": anp.from_list(dom.tolist(), pa.string()),
            })

    return docs.mapInArrow(
        kernel,
        "doc_id LONG, latin_chars LONG, cyrillic_chars LONG, "
        "cjk_chars LONG, dominant_script STRING",
    ).orderBy("doc_id")


def _sql_script_mix() -> str:
    planted = (
        "text || CASE WHEN doc_id % 3 = 0 THEN ' привет мир' "
        "WHEN doc_id % 4 = 1 THEN ' 你好世界' ELSE '' END")
    return f"""
WITH p AS (SELECT doc_id, {planted} AS t FROM documents),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[a-zA-Z]')) AS BIGINT) AS latin_chars,
         CAST(len(regexp_extract_all(t, '[а-яА-Я]')) AS BIGINT) AS cyrillic_chars,
         CAST(len(regexp_extract_all(t, '[一-鿿]')) AS BIGINT) AS cjk_chars
  FROM p)
SELECT doc_id, latin_chars, cyrillic_chars, cjk_chars,
       CASE WHEN cyrillic_chars > 0 AND cyrillic_chars >= cjk_chars
            THEN 'cyrillic' WHEN cjk_chars > 0 THEN 'cjk'
            WHEN latin_chars > 0 THEN 'latin' ELSE 'none' END AS dominant_script
FROM c ORDER BY doc_id
"""


DRIFT_TOP_K = 50


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot token drift — the distribution-shift monitor a
    crawl pipeline runs between snapshots before retraining: the two
    "snapshots" are the deterministic doc_id-parity halves of the corpus;
    per token, its exact count in each half and the signed difference,
    top-K by absolute shift. ONE map-side-combinable groupBy(tok) with
    two conditional sums (no join between the halves), then a bounded
    TakeOrderedAndProject — the 100-TB cost is the token-count aggregate
    the engine already pays for vocab stats. All-integer output (counts
    and diffs; normalized ppm shares are a display concern — at int64
    they would overflow at ~9e12 occurrences of one token per half)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        (F.col("doc_id") % 2 == 1).alias("is_new"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    g = toks.groupBy("tok").agg(
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("old_count"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("new_count"),
    )
    g = g.withColumn("diff", F.col("new_count") - F.col("old_count"))
    return (g.orderBy(F.abs("diff").desc(), F.col("tok").asc())
            .limit(DRIFT_TOP_K)
            .select("tok", "old_count", "new_count", "diff"))


SQL_TOKEN_DRIFT = f"""
WITH toks AS (
  SELECT doc_id % 2 = 1 AS is_new,
         unnest(string_split(text, ' ')) AS tok
  FROM documents),
t AS (SELECT is_new, tok FROM toks WHERE tok <> ''),
g AS (
  SELECT tok,
         CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS old_count,
         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_count
  FROM t GROUP BY tok)
SELECT tok, old_count, new_count,
       CAST(new_count - old_count AS BIGINT) AS diff
FROM g
ORDER BY ABS(new_count - old_count) DESC, tok ASC
LIMIT {DRIFT_TOP_K}
"""


SPLIT_SEED = 777       # train/val assignment hash seed
SPLIT_VAL_PCT = 10     # ~10% of docs to the validation split


def _split_is_val_sql(id_expr: str) -> str:
    """Deterministic hash split, identical in Spark SQL and DuckDB:
    affine hash of the doc id mod 100 under SPLIT_VAL_PCT -> val."""
    a, b = affine_params(SPLIT_SEED, 1)
    return (f"(({int(a[0])} * ({id_expr} % {MERSENNE_PRIME}) + {int(b[0])}) "
            f"% {MERSENNE_PRIME}) % 100 < {SPLIT_VAL_PCT}")


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val LEAKAGE AUDIT — the decontamination check a training
    pipeline runs after splitting: assign every doc to train/val by a
    deterministic hash of its id, then count LSH near-dup pairs that
    CROSS the split boundary (a val doc with a train near-twin inflates
    eval scores). Pair generation rides the banded/bucketed LSH rails
    (never all-pairs); the split is a pure codegen expression on the
    pair's two ids, so the audit costs one aggregate over the candidate
    pairs. Output: total candidate pairs, leaking cross-split pairs,
    within-train and within-val pairs, and the val-doc count."""
    docs = _docs_with_dups(spark, sf_dir)
    pairs = dd.lsh_candidate_pairs(docs, "doc_id", max_bucket=LSH_MAX_BUCKET)
    va = F.expr(_split_is_val_sql("id_a"))
    vb = F.expr(_split_is_val_sql("id_b"))
    vc = docs.agg(F.coalesce(
        F.sum(F.expr(_split_is_val_sql("doc_id")).cast("long")),
        F.lit(0).cast("long")).alias("n_val_docs"))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.coalesce(F.sum((va != vb).cast("long")), F.lit(0).cast("long"))
         .alias("n_cross_split"),
        F.coalesce(F.sum((~va & ~vb).cast("long")), F.lit(0).cast("long"))
         .alias("n_train_train"),
        F.coalesce(F.sum((va & vb).cast("long")), F.lit(0).cast("long"))
         .alias("n_val_val"),
    ).crossJoin(F.broadcast(vc))  # one-row count relation, idiomatic


def _sql_split_leakage() -> str:
    return _duck_lsh_sizes_ctes() + f""",
bands AS (
  SELECT b.* FROM bands_all b JOIN sizes s USING (band, band_key)
  WHERE s.sz <= {LSH_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
flagged AS (
  SELECT ({_split_is_val_sql('id_a')}) AS va,
         ({_split_is_val_sql('id_b')}) AS vb
  FROM pairs
),
vc AS (SELECT COUNT(*) AS n FROM docs WHERE {_split_is_val_sql('doc_id')})
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(CASE WHEN va <> vb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_split,
       CAST(COALESCE(SUM(CASE WHEN NOT va AND NOT vb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_train_train,
       CAST(COALESCE(SUM(CASE WHEN va AND vb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_val_val,
       (SELECT CAST(n AS BIGINT) FROM vc) AS n_val_docs
FROM flagged
"""


PACK_BUDGET = 2048     # tokens per packed training sequence


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing metadata
    (operators/packing.py::concat_split_packing): every doc's global
    token offset, pack id, and pack-boundary crossing under GPT-style
    concatenation in doc_id order at a {PACK_BUDGET}-token budget. The
    global running sum is a DISTRIBUTED prefix sum (range partition →
    P-row driver prefix → per-partition window + broadcast offsets) —
    never a corpus-wide single-task window (plan-gated). The DuckDB
    oracle replays it with a plain ORDER BY window, value-exact."""
    from ..operators.packing import concat_split_packing

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ts.n_tokens("text").alias("n_tokens"))
    out = concat_split_packing(docs, "doc_id", "n_tokens", PACK_BUDGET)
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "start_offset", "pack_id", "crosses_boundary").orderBy("doc_id")


def _sql_sequence_packing() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, CAST({ts.duck_n_tokens('text')} AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS start_offset
  FROM toks)
SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS pack_id,
       n_tokens > 0 AND
         ((start_offset + GREATEST(n_tokens, 1) - 1) // {PACK_BUDGET})
           > (start_offset // {PACK_BUDGET}) AS crosses_boundary
FROM o ORDER BY doc_id
"""


AUD_FMOD = 64          # frames = 200 + doc_id % AUD_FMOD


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the dependency-free WAV codec
    (multimodal/binary_ops.py::encode_wav/decode_wav): a deterministic
    per-doc PCM16 stream (mono or stereo, 8 kHz or 10 kHz) is encoded to
    RIFF/WAVE bytes and decoded back — chunk walk, fmt parse, int16
    de-interleave all under test — then reduced to integer stats
    (duration, total |amplitude|, peak). The oracle computes the same
    stats in closed form from the sample formula plus the exact
    44-byte-header size arithmetic, so a header, alignment, or dtype bug
    breaks the value hash. Same Arrow-batch shape as ``image_stats``:
    this is the audio leg of the multimodal column plumbing."""
    import numpy as np
    import pyarrow as pa

    from ..multimodal.binary_ops import decode_wav, encode_wav

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    out_schema = ("doc_id BIGINT, n_frames BIGINT, channels BIGINT, "
                  "sample_rate BIGINT, duration_us BIGINT, blob_bytes BIGINT, "
                  "sum_abs BIGINT, peak BIGINT")
    pa_schema = pa.schema([(n, pa.int64()) for n in (
        "doc_id", "n_frames", "channels", "sample_rate", "duration_us",
        "blob_bytes", "sum_abs", "peak")])

    def kernel(batches):
        tune_worker()
        for batch in batches:
            ids = anp.values(batch.column(0), np.int64)
            cols = {n: [] for n in pa_schema.names}
            for did in ids.tolist():
                frames = 200 + did % AUD_FMOD
                ch = 2 if did % 3 == 0 else 1
                rate = 8000 if did % 2 == 0 else 10000
                k = np.arange(frames * ch, dtype=np.int64)
                samples = ((did * 131 + k * 17) % 4001 - 2000).astype(np.int16)
                blob = encode_wav(samples, rate, ch)
                dec, drate, dch = decode_wav(blob)  # the codec under test
                cols["doc_id"].append(did)
                cols["n_frames"].append(len(dec) // dch)
                cols["channels"].append(dch)
                cols["sample_rate"].append(drate)
                cols["duration_us"].append((len(dec) // dch) * 1_000_000 // drate)
                cols["blob_bytes"].append(len(blob))
                cols["sum_abs"].append(int(np.abs(dec.astype(np.int64)).sum()))
                cols["peak"].append(int(dec.max()))
            yield anp.batch(cols, pa_schema)

    return docs.mapInArrow(kernel, out_schema).orderBy("doc_id")


SQL_AUDIO_STATS = f"""
WITH dims AS (
  SELECT doc_id, 200 + doc_id % {AUD_FMOD} AS frames,
         CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch,
         CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 10000 END AS rate
  FROM documents
),
s AS (
  SELECT d.doc_id,
         CAST(SUM(ABS((d.doc_id*131 + k.k*17) % 4001 - 2000)) AS BIGINT) AS sum_abs,
         CAST(MAX((d.doc_id*131 + k.k*17) % 4001 - 2000) AS BIGINT) AS peak
  FROM dims d
  CROSS JOIN range(0, (200 + {AUD_FMOD - 1}) * 2) k(k)
  WHERE k.k < d.frames * d.ch
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(d.frames AS BIGINT) AS n_frames,
       CAST(d.ch AS BIGINT) AS channels,
       CAST(d.rate AS BIGINT) AS sample_rate,
       CAST(d.frames * 1000000 // d.rate AS BIGINT) AS duration_us,
       CAST(44 + d.frames * d.ch * 2 AS BIGINT) AS blob_bytes,
       s.sum_abs, s.peak
FROM dims d JOIN s USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# End-to-end cleaning pipeline composition.
# ---------------------------------------------------------------------------
PIPELINE_MIN_QUALITY_BP = 5000


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed shape a real training-data cleaning job has: quality
    filter -> exact dedup (keep-min-id) -> language-ID -> per-language
    corpus stats, all in ONE lazy Catalyst plan (the quality predicate
    pushes into the scan side of the dedup shuffle; nothing materializes
    between stages). Exercises that the operator family composes, not just
    that each piece works alone. Every output column is exact integer
    arithmetic the DuckDB oracle replays."""
    from ..functions.text_arrow import quality_gate_cols_arrow

    docs = _docs_with_dups(spark, sf_dir)
    # r6: the quality gate and the token mass come from ONE Arrow pass
    # (functions/text_arrow) — the textstats HOF lambdas evaluated
    # interpreted, and the n_tokens aggregate re-tokenized every kept
    # doc. lang_id stays a codegen expression (length/replace, no
    # lambdas). Same one-lazy-plan composition: gate -> dedup -> agg.
    gated = quality_gate_cols_arrow(docs, ts.STOPWORDS)
    filtered = gated.filter(
        F.col("quality_score_bp") >= PIPELINE_MIN_QUALITY_BP)
    kept = dd.dedup_keep_canonical(filtered, "doc_id")
    return (
        kept.groupBy(ts.lang_id_pred("text").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("pred_lang")
    )


def _sql_pipeline_clean_corpus() -> str:
    return f"""
WITH docs AS ({_DUCK_DOCS_WITH_DUPS}),
filtered AS (
  SELECT doc_id, text FROM docs
  WHERE {ts.duck_quality_score_bp('text')} >= {PIPELINE_MIN_QUALITY_BP}),
hashed AS (SELECT doc_id, text, md5(text) AS digest FROM filtered),
keepers AS (SELECT digest, MIN(doc_id) AS keep_id FROM hashed GROUP BY digest),
kept AS (SELECT h.doc_id, h.text FROM hashed h
         JOIN keepers k ON k.digest = h.digest AND k.keep_id = h.doc_id)
SELECT {ts.duck_lang_id_pred('text')} AS pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({ts.duck_n_tokens('text')}) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM kept GROUP BY 1 ORDER BY pred_lang
"""


# ---------------------------------------------------------------------------
# Deterministic hash sampling (reservoir-equivalent, engine-replayable).
# ---------------------------------------------------------------------------
SAMPLE_K = 100
SAMPLE_SEED = 67


def q_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k-by-hash document sample: the k documents whose seeded
    affine hash of doc_id is smallest (doc_id tie-break). Equivalent in
    distribution to a uniform k-sample but DETERMINISTIC — the same docs
    come back on every run, every engine, every partitioning, which is
    what a training pipeline needs for stable eval splits and audits
    (a classic reservoir sample is run-order-dependent; this is not).

    Scale shape: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on one reducer; no global
    sort shuffle of the corpus."""
    from ..config import affine_sql as _affine_sql

    a, b = affine_params(SAMPLE_SEED, 1)
    docs = load(spark, sf_dir, "documents")
    h = F.expr(_affine_sql(int(a[0]), int(b[0]), "CAST(doc_id AS BIGINT)"))
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("sample_h"))
        .orderBy("sample_h", "doc_id")
        .limit(SAMPLE_K)
    )


def _sql_hash_sample() -> str:
    from ..config import affine_sql as _affine_sql

    a, b = affine_params(SAMPLE_SEED, 1)
    h = _affine_sql(int(a[0]), int(b[0]), "CAST(doc_id AS BIGINT)")
    return f"""
SELECT doc_id, lang, n_chars, {h} AS sample_h
FROM documents
ORDER BY sample_h, doc_id
LIMIT {SAMPLE_K}
"""


STRAT_K = 20
STRAT_SEED = 4242


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language balanced sample: exactly STRAT_K docs per lang, the
    bottom-k by seeded hash (operators/sampling.stratified_hash_sample —
    bounded two-phase, the one window only ever sees <= partitions *
    groups * k candidate rows). Deterministic total order, so the oracle
    replays it with ROW_NUMBER()."""
    from ..operators.sampling import stratified_hash_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "lang", "doc_id", STRAT_K, STRAT_SEED,
        payload_cols=["n_chars"],
    ).orderBy("lang", "sample_h")


def _sql_stratified_sample() -> str:
    from ..config import affine_sql as _affine_sql

    a, b = affine_params(STRAT_SEED, 1)
    h = _affine_sql(int(a[0]), int(b[0]), "CAST(doc_id AS BIGINT)")
    return f"""
WITH h AS (SELECT lang, doc_id, n_chars, {h} AS sample_h FROM documents
           WHERE doc_id IS NOT NULL),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sample_h, doc_id) AS rn
      FROM h)
SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, sample_h
FROM r WHERE rn <= {STRAT_K} ORDER BY lang, sample_h
"""


PII_DOC_CAP = 500  # bounded per-doc report rows (same cap as text_quality)


def _pii_raw_col() -> F.Column:
    """The synthetic corpus carries no contact strings, so PII is PLANTED
    deterministically (same device as the planted duplicates above):
    docs with doc_id % 7 == 0 gain an email, % 11 == 0 a phone number,
    % 13 == 0 an IPv4 — overlaps allowed, every constant derived from
    doc_id so the oracle replays the injection exactly."""
    d = F.col("doc_id")
    email = F.when(d % 7 == 0, F.concat(
        F.lit(" reach user"), d.cast("string"), F.lit("@example.com now")))
    phone = F.when(d % 11 == 0, F.concat(
        F.lit(" call 555-"), F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad(((d * 3) % 10000).cast("string"), 4, "0")))
    ip = F.when(d % 13 == 0, F.concat(
        F.lit(" from 10."), (d % 256).cast("string"),
        F.lit(".0."), ((d * 7) % 256).cast("string")))
    return F.concat(F.col("text"), F.coalesce(email, F.lit("")),
                    F.coalesce(phone, F.lit("")), F.coalesce(ip, F.lit("")))


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub report: per-document email/phone/IPv4 match counts and
    the length delta after typed-placeholder redaction
    (functions/pii.py — regexp_count / chained regexp_replace, pure
    codegen, patterns restricted to the Java-regex ∩ RE2 dialect).

    Scale shape: one projected scan, zero shuffles — the filter and both
    regex passes live in a single WholeStageCodegen project over the
    pruned (doc_id, text) columns."""
    from ..functions.pii import pii_counts, redact_pii

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < PII_DOC_CAP)
            .select("doc_id", _pii_raw_col().alias("raw")))
    counts = pii_counts("raw")
    return docs.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
        F.length("raw").cast("bigint").alias("raw_len"),
        F.length(redact_pii("raw")).cast("bigint").alias("clean_len"),
    )  # no orderBy: the gate sorts rows; a global sort would be the
    # plan's ONLY exchange (gated exchange-free in test_plan_quality)


def _sql_pii_redaction() -> str:
    from ..functions.pii import duck_pii_count, duck_redact_pii

    raw = ("text || "
           "COALESCE(CASE WHEN doc_id % 7 = 0 THEN ' reach user' || "
           "CAST(doc_id AS VARCHAR) || '@example.com now' END, '') || "
           "COALESCE(CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || "
           "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
           "lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') END, '') || "
           "COALESCE(CASE WHEN doc_id % 13 = 0 THEN ' from 10.' || "
           "CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
           "CAST((doc_id * 7) % 256 AS VARCHAR) END, '')")
    return f"""
WITH raw AS (
  SELECT doc_id, {raw} AS raw FROM documents WHERE doc_id < {PII_DOC_CAP}
)
SELECT doc_id,
       {duck_pii_count('email', 'raw')} AS n_emails,
       {duck_pii_count('phone', 'raw')} AS n_phones,
       {duck_pii_count('ip', 'raw')} AS n_ips,
       CAST(length(raw) AS BIGINT) AS raw_len,
       CAST(length({duck_redact_pii('raw')}) AS BIGINT) AS clean_len
FROM raw ORDER BY doc_id
"""


WEIGHTED_K = 100
WEIGHTED_SEED = 1889


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted training-data cut: priority sampling
    (operators/sampling.weighted_priority_sample) with weight
    1 + quality_score_bp(text) — a doc's selection odds scale with its
    quality score, the PPS selection a curation pipeline applies before
    tokenization. Deterministic (seeded hash replaces the uniform draw),
    so the same cut reproduces across runs and engines.

    Scale shape: single projection (quality score is pure codegen) +
    TakeOrderedAndProject — per-partition top-k, k-row merge; the corpus
    is never shuffled."""
    from ..operators.sampling import weighted_priority_sample

    docs = load(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", "lang",
        (F.lit(1) + ts.quality_score_bp("text")).alias("quality_w"),
    )
    return weighted_priority_sample(
        weighted, "doc_id", "quality_w", WEIGHTED_K, WEIGHTED_SEED,
        payload_cols=["lang"],
    ).orderBy(F.col("priority").desc(), "doc_id")


def _sql_quality_weighted_sample() -> str:
    from ..functions.textstats import duck_quality_score_bp
    from ..operators.sampling import weighted_priority_sample_sql

    w = f"(1 + {duck_quality_score_bp('text')})"
    pr = weighted_priority_sample_sql("doc_id", "quality_w", WEIGHTED_SEED)
    return f"""
WITH weighted AS (
  SELECT doc_id, lang, CAST({w} AS BIGINT) AS quality_w FROM documents
  WHERE doc_id IS NOT NULL
),
pri AS (
  SELECT doc_id, quality_w, lang, {pr} AS priority FROM weighted
  WHERE quality_w >= 1
)
SELECT doc_id, quality_w, lang, priority FROM pri
ORDER BY priority DESC, doc_id LIMIT {WEIGHTED_K}
"""


VOCAB_DF_FRAC = 0.2  # vocabulary cut: tokens present in >= 20% of docs


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics — per-token total occurrences (tf) and
    document frequency (df) for tokens above a df cut. The scale-right
    exact-df shape: groupBy(doc_id, tok) first (partial/final agg —
    docs are partition-local, so the map-side combine collapses each
    doc's repeats before the shuffle, which then carries one row per
    (doc, DISTINCT token)); a second bounded groupBy(tok) folds tf/df.
    No countDistinct and no distinct-universe shuffle stage."""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    docs = load(spark, sf_dir, "documents")
    # r6: the doc-local (doc, DISTINCT token, tf) stream comes from one
    # Arrow pass (functions/text_arrow), so the explode + corpus-wide
    # groupBy(doc_id, tok) exchange disappears — ONE bounded groupBy(tok)
    # is the only shuffle left (guide §2.4/§4.2).
    dt = ngram_tf_rows_arrow(
        load_spread(spark, sf_dir, "documents", "doc_id", "text"), 1)
    v = dt.groupBy(F.col("ngram").alias("tok")).agg(
        F.sum("tf").alias("tf"), F.count(F.lit(1)).alias("df"))
    # the df cut stays IN the plan (broadcast one-row count, like the
    # oracle's n CTE) — no eager driver-side count() job per invocation
    n = docs.agg(F.count(F.lit(1)).alias("_n"))
    return (
        v.crossJoin(F.broadcast(n))
        .filter(F.col("df")
                >= F.floor(F.lit(float(VOCAB_DF_FRAC)) * F.col("_n"))
                .cast("long"))
        .select(F.col("tok").alias("token"), "tf", "df")
        .orderBy(F.desc("df"), F.desc("tf"), "token")
    )


def _sql_vocab_stats() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
       FROM toks WHERE tok <> '' GROUP BY 1, 2),
v AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df
      FROM dt GROUP BY tok),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT tok AS token, tf, df FROM v, n
WHERE df >= CAST(FLOOR(CAST({VOCAB_DF_FRAC!r} AS DOUBLE) * n.n) AS BIGINT)
ORDER BY df DESC, tf DESC, token
"""


TFIDF_TOP_K = 3        # distinctive terms kept per document
# Fixed-point idf: (N_docs * SCALE) div df. int64 headroom bound:
# max score = tf * N_docs * SCALE must stay under 2^63, i.e.
# N_docs * tf <= 9.2e14 at SCALE=1e4 — 2.5e10 docs (100 TB of 4 KB
# docs) with per-doc term counts up to ~36k, far past any real doc
# (and the doc_repetition filter removes the spam shapes first).
# Under Spark 4's default ANSI mode an overflow would otherwise abort
# the job rather than wrap.
TFIDF_IDF_SCALE = 10_000


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms: top-K tokens by a TF-IDF-style
    score, kept integer-exact so the DuckDB oracle can value-hash it —
    ``score = tf * ((N_docs * SCALE) div df)`` in 64-bit integer
    arithmetic (no floating-point log, no ulp drift between engines).

    Scale shape: (1) one map-only Arrow pass emits the doc-local
    (doc, DISTINCT token, tf) stream (functions/text_arrow, r6); (2) df
    folds from that stream with a bounded groupBy(tok); (3) the
    tf←→df join shuffles on tok; (4) per-doc top-K is a window over
    doc_id — high-cardinality partition key, tiny per-partition sort.
    No distinct-universe collect, no cross join, no float.

    Beyond-reference training-data operator (the reference has no
    document scoring); the tf/df rails match ``q_vocab_stats``.

    The tf subtree feeds two join children (Catalyst does not CSE across
    them) and is recomputed per child — a MAP-ONLY scan each time,
    measured cheaper than materializing the stream. (A window-over-tok
    df — one shuffle fewer on paper — was measured 20x SLOWER: WindowExec
    buffers per partition-key group, and millions of tiny token groups
    drown it in per-group overhead. Rejected.)"""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    # doc-local (doc, DISTINCT token, tf) stream in one Arrow pass
    # (functions/text_arrow; replaces the interpreted-HOF _with_tf_pairs
    # kernel — guide §4.2). The stream feeds BOTH the df aggregate and
    # the tf side of the join (no CSE across join children): with the
    # kernel vectorized and parallel, recomputing it per consumer
    # measured faster than localCheckpoint materialization.
    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    dt = (
        ngram_tf_rows_arrow(docs, 1)
        .select(F.col("_id").alias("doc_id"),
                F.col("ngram").alias("tok"), "tf")
    )
    df_tbl = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        dt.join(df_tbl, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * F.expr(f"(_n * CAST({TFIDF_IDF_SCALE} AS BIGINT)) div df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", F.col("tok").alias("token"), "tf", "df",
                "score", F.col("rank").cast("long").alias("rank"))
        .orderBy("doc_id", "rank")
    )


def _sql_tfidf_top_terms() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks WHERE tok <> '' GROUP BY 1, 2),
dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT dt.doc_id, dt.tok, dt.tf, dfs.df,
         dt.tf * ((n.n * CAST({TFIDF_IDF_SCALE} AS BIGINT)) // dfs.df)
           AS score
  FROM dt JOIN dfs USING (tok), n),
r AS (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
      FROM scored)
SELECT doc_id, tok AS token, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {TFIDF_TOP_K} ORDER BY doc_id, rank
"""


REP_SCALE = 1_000_000  # fixed-point parts-per-million for ratio columns


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/C4-style quality
    cuts a web-scale training pipeline filters on): distinct-token
    ratio, top-token share, and top-bigram share — integer-exact in
    parts-per-million so the DuckDB oracle value-hashes bit-for-bit
    (no float division).

    Scale shape: MAP-ONLY — every signal (token/bigram counts,
    distincts, top-run tf) computes doc-locally in one Arrow pass
    (functions/text_arrow, r6). No explode, no shuffle, no join
    anywhere in the operator; the only exchanges are the small-input
    parallelism floor and the presentation-order sort.
    Beyond-reference training-data operator.

    The r5 form computed the same doc-local signals with Catalyst
    higher-order functions, whose lambdas are evaluated interpreted per
    array element; the Arrow pass measured 12.8 s -> ~1 s at sf1.0
    (guide §4.2: vectorized native code inside mapInArrow beats
    interpreted JVM expression chains). Output rows = input rows with
    >= 1 token."""
    from ..functions.text_arrow import doc_repetition_stats_arrow

    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    return doc_repetition_stats_arrow(docs).orderBy("doc_id")


def _sql_doc_repetition() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
u0 AS (SELECT doc_id, unnest(l) AS tok FROM t),
uni AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM u0 GROUP BY 1, 2),
us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(MAX(c) AS BIGINT) AS top_tok_tf
       FROM uni GROUP BY 1),
b0 AS (SELECT doc_id, l,
              unnest(generate_series(1, length(l) - 1)) AS i FROM t),
bg AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS bg FROM b0),
bc AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
       FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
              CAST(MAX(c) AS BIGINT) AS top_bigram_tf
       FROM bc GROUP BY 1)
SELECT us.doc_id, us.n_tokens, us.n_distinct, us.top_tok_tf,
       CAST(COALESCE(bs.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(bs.top_bigram_tf, 0) AS BIGINT) AS top_bigram_tf,
       (us.n_distinct * CAST({REP_SCALE} AS BIGINT)) // us.n_tokens
         AS distinct_ppm,
       (us.top_tok_tf * CAST({REP_SCALE} AS BIGINT)) // us.n_tokens
         AS top_tok_ppm,
       CASE WHEN bs.n_bigrams IS NULL OR bs.n_bigrams = 0 THEN 0
            ELSE (bs.top_bigram_tf * CAST({REP_SCALE} AS BIGINT))
                   // bs.n_bigrams END AS top_bigram_ppm
FROM us LEFT JOIN bs USING (doc_id) ORDER BY us.doc_id
"""


# --------------------------------------------------------------------------
# Corpus statistics: collocation mining + per-doc LM-style familiarity.
# --------------------------------------------------------------------------
COLL_MIN_COUNT = 5   # collocation candidates must occur at least this often
COLL_SCALE = 1_000_000
COLL_TOP = 30
FAMILIARITY_BOTTOM = 20


def _doc_bigram_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, bg, tf): doc-local exact bigram term frequencies.
    One Arrow pass (functions/text_arrow, k=2) — zero shuffle, one row
    per DISTINCT bigram per doc, identical values to the r5 HOF
    slice+zip_with kernel it replaces (guide §4.2: the HOF lambdas were
    interpreted per element and dominated the bigram queries' wall)."""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    return ngram_tf_rows_arrow(docs.select("doc_id", "text"), 2).select(
        F.col("_id").alias("doc_id"), F.col("ngram").alias("bg"), "tf")


def q_collocations_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations (multi-word expressions) by the Dice coefficient
    2*C(w1,w2) / (C(w1)+C(w2)) — the classic MWE extraction statistic,
    here in exact fixed-point integers (score = 2*C12*SCALE DIV (C1+C2))
    so the DuckDB oracle value-hashes bit-for-bit; min-count cutoff
    filters hapax noise. Beyond-reference corpus-statistics operator.

    Scale shape: doc-local tf pairs (no corpus-wide (doc, token)
    aggregate), then ONE groupBy(bigram) and ONE groupBy(token) — both
    map-side combinable, shuffles bounded by distinct n-grams per
    partition — and two equi-joins of the (min-count-filtered, tiny)
    candidate set against the unigram counts. The candidate side after
    the cutoff is orders of magnitude smaller than the corpus, and the
    final top-K is TakeOrderedAndProject (no global sort)."""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    bg_counts = _doc_bigram_tf(docs).groupBy("bg") \
        .agg(F.sum("tf").alias("c12")) \
        .filter(F.col("c12") >= COLL_MIN_COUNT)
    # unigram totals via the Arrow tf stream; localCheckpoint because the
    # TINY aggregate (vocab-bounded) feeds BOTH the w1 and w2 join
    # branches — without it Catalyst re-runs the whole tokenize pass per
    # branch (no CSE across join children)
    uni = ngram_tf_rows_arrow(docs, 1) \
        .groupBy(F.col("ngram").alias("tok")).agg(F.sum("tf").alias("c")) \
        .localCheckpoint()
    cand = bg_counts.withColumn("w1", F.expr("split(bg, ' ')[0]")) \
        .withColumn("w2", F.expr("split(bg, ' ')[1]"))
    scored = (
        cand.join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "bg", "c12", "c1", "c2",
            F.expr(f"(2 * c12 * CAST({COLL_SCALE} AS BIGINT)) div (c1 + c2)")
            .alias("dice_fp"),
        )
    )
    return scored.orderBy(F.desc("dice_fp"), F.asc("bg")).limit(COLL_TOP)


def _sql_collocations_dice() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
u0 AS (SELECT doc_id, unnest(l) AS tok FROM t),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u0 GROUP BY tok),
b0 AS (SELECT doc_id, l, unnest(generate_series(1, length(l) - 1)) AS i FROM t),
bg AS (SELECT l[i] || ' ' || l[i + 1] AS bg, l[i] AS w1, l[i + 1] AS w2 FROM b0),
bc AS (SELECT bg, MIN(w1) AS w1, MIN(w2) AS w2,
              CAST(COUNT(*) AS BIGINT) AS c12
       FROM bg GROUP BY bg HAVING COUNT(*) >= {COLL_MIN_COUNT})
SELECT bc.bg, bc.c12, u1.c AS c1, u2.c AS c2,
       (2 * bc.c12 * CAST({COLL_SCALE} AS BIGINT)) // (u1.c + u2.c) AS dice_fp
FROM bc JOIN uni u1 ON u1.tok = bc.w1 JOIN uni u2 ON u2.tok = bc.w2
ORDER BY dice_fp DESC, bc.bg ASC LIMIT {COLL_TOP}
"""


def q_doc_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-style familiarity score: the mean corpus frequency
    of the document's bigrams (sum over bigram occurrences of the corpus
    count of that bigram, DIV the doc's bigram count) — the integer-exact
    stand-in for bigram LM perplexity (log-free so both engines hash
    identically). Low scores flag documents made of rare bigram sequences
    — boilerplate-free but noisy text a rarity filter inspects. Returns
    the {FAMILIARITY_BOTTOM} least familiar documents.

    Scale shape: doc-local bigram tf pairs, one map-side-combinable
    groupBy(bigram) for corpus counts, then ONE shuffle equi-join of
    (doc, bg, tf) against (bg, corpus_c) co-partitioned on bg (AQE handles
    bigram skew), a per-doc sum, and a TakeOrderedAndProject for the
    bounded answer — no global sort, nothing driver-side."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    # the stream feeds the corpus-count aggregate AND the per-doc join
    # side; recomputing the (vectorized, parallel) kernel per consumer
    # measured faster than materializing the stream
    doc_bg = _doc_bigram_tf(docs)
    corpus = doc_bg.groupBy("bg").agg(F.sum("tf").alias("corpus_c"))
    per_doc = (
        doc_bg.join(corpus, "bg")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("tf * corpus_c")).alias("mass"),
             F.sum("tf").alias("n_bigrams"))
        .select(
            "doc_id", "n_bigrams",
            F.expr("mass div n_bigrams").alias("familiarity"),
        )
    )
    return per_doc.orderBy(F.asc("familiarity"), F.asc("doc_id")) \
        .limit(FAMILIARITY_BOTTOM)


def _sql_doc_familiarity() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
b0 AS (SELECT doc_id, l, unnest(generate_series(1, length(l) - 1)) AS i FROM t),
bg AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS bg FROM b0),
dc AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
corpus AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS corpus_c FROM dc GROUP BY bg),
per_doc AS (
  SELECT dc.doc_id,
         CAST(SUM(dc.tf) AS BIGINT) AS n_bigrams,
         CAST(SUM(dc.tf * corpus.corpus_c) AS BIGINT) AS mass
  FROM dc JOIN corpus USING (bg) GROUP BY dc.doc_id)
SELECT doc_id, n_bigrams, mass // n_bigrams AS familiarity
FROM per_doc ORDER BY familiarity ASC, doc_id ASC LIMIT {FAMILIARITY_BOTTOM}
"""


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join over the event stream: for every click, the
    value of that user's most recent purchase at or before the click
    (operators/asof.asof_join — union + one window per key, no range
    explosion; a BroadcastNestedLoopJoin never appears). The DuckDB
    oracle replays it with its native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, "user_id", "ts", ["value"],
                    prefix="last_purchase_")
    return out.select("event_id", "user_id", "last_purchase_value") \
        .orderBy("event_id")


SQL_ASOF_LAST_PURCHASE = """
SELECT c.event_id, c.user_id, p.value AS last_purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table — the sanity pass a
    pipeline runs before training on a new snapshot: per column, row
    count, null count, exact distinct count, and (numeric columns)
    min/max. ONE pass over the table: every metric is an aggregate
    expression in a single agg() (Catalyst computes them all in one
    partial/final cycle — no per-column scans), then unpivoted to
    long form (col_name, metric, value) driver-free via stack()."""
    docs = load(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"nulls_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"distinct_{c}"))
    for c in ("doc_id", "n_chars"):
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    one = docs.agg(*aggs)
    pairs = []
    for name in one.columns:
        pairs.append(f"'{name}'")
        pairs.append(f"CAST({name} AS BIGINT)")
    return (
        one.select(F.expr(
            f"stack({len(one.columns)}, {', '.join(pairs)})"
            " AS (metric, value)"))
        .orderBy("metric")
    )


def _sql_table_profile() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    metrics = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for c in cols:
        metrics.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nulls_{c}")
        metrics.append(
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS distinct_{c}")
    for c in ("doc_id", "n_chars"):
        metrics.append(f"CAST(MIN({c}) AS BIGINT) AS min_{c}")
        metrics.append(f"CAST(MAX({c}) AS BIGINT) AS max_{c}")
    names = [m.split(" AS ")[-1] for m in metrics]
    unpivot = " UNION ALL ".join(
        f"SELECT '{n}' AS metric, {n} AS value FROM one" for n in names)
    return f"""
WITH one AS (SELECT {', '.join(metrics)} FROM documents)
SELECT metric, value FROM ({unpivot}) ORDER BY metric
"""


CONTAM_SHINGLE_K = 5   # n-gram length for benchmark-overlap detection
CONTAM_BENCH_MOD = 50  # benchmark slice: doc_id % 50 == 0 (held-out set)


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the GPT-3-style n-gram overlap check a
    training pipeline runs before shipping a corpus: flag training docs
    sharing any K-token shingle with a held-out benchmark set (here the
    deterministic doc_id % {mod} == 0 slice stands in for the benchmark).

    Scale shape: shingling and per-doc dedup happen DOC-LOCALLY in
    whole-stage codegen (transform over the token array + array_distinct
    — no (doc, token) shuffle); the benchmark's distinct-shingle set is
    tiny relative to the corpus (benchmarks are fixed-size; the corpus is
    the 100 TB side) and rides a broadcast KEYED BY xxhash64 int64 (the
    per-probe work is an int64 hash-table lookup; the shingle string is
    compared only on a hash match, which keeps the count exact under
    collisions), followed by one partial/final groupBy(doc_id). Docs with
    no shingles (< K tokens) stay in the output with zero overlap via the
    doc-table left join. ``doc_id`` is unique per row: the one-pass
    groupBy folds stats per id, so rows SHARING an id would get their
    shingle counts summed and fanned back out to every copy."""
    from ..functions.text_arrow import ngram_tf_rows_arrow

    k, mod = CONTAM_SHINGLE_K, CONTAM_BENCH_MOD
    # ONE Arrow shingling pass per consumer (functions/text_arrow,
    # k-gram rows already doc-distinct — replaces the interpreted-HOF
    # transform/slice kernel, guide §4.2). The stream feeds the
    # benchmark-set branch and the corpus-scoring branch; recomputing
    # the vectorized kernel per branch measured faster than
    # localCheckpoint materialization of the string stream.
    docs = load_spread(spark, sf_dir, "documents", "doc_id", "text")
    st = ngram_tf_rows_arrow(docs, k)
    # benchmark relation keyed by xxhash64(shingle): the broadcast hash
    # table is int64-keyed (8-byte keys, int64 probe hashing) instead of
    # string-keyed — the r4 bench showed the 560k-entry STRING relation
    # probed 28M times was memory-bandwidth-bound. Grouping to
    # (h, array<shingle>) keeps it EXACT: a probe matches the hash first,
    # then confirms the string via array_contains, so an h collision
    # (corpus-vs-bench or bench-internal) can never flip a count.
    bench = (
        st.filter(F.col("_id") % mod == 0)
        .select(F.col("ngram").alias("_bsh")).distinct()
        .groupBy(F.xxhash64("_bsh").alias("_h"))
        .agg(F.collect_list("_bsh").alias("_bench_sh"))
    )
    # n_shingles and n_overlap fold from the SAME doc-distinct stream
    # (count + matched-count in one agg); the zero-shingle docs come back
    # via the cheap doc_id-only left join, which never touches text.
    ex = (
        st.filter(F.col("_id") % mod != 0)
        .select(F.col("_id").alias("doc_id"), F.col("ngram").alias("shingle"))
        .withColumn("_h", F.xxhash64("shingle"))
    )
    hit = F.when(
        F.array_contains(F.coalesce("_bench_sh",
                                    F.expr("CAST(array() AS array<string>)")),
                         F.col("shingle")), 1).otherwise(0)
    stats = (
        ex.join(F.broadcast(bench), "_h", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(hit).alias("n_overlap"))
    )
    corpus_ids = docs.filter(F.col("doc_id") % mod != 0).select("doc_id")
    return (
        corpus_ids.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).cast("long")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _sql_benchmark_contamination() -> str:
    k, mod = CONTAM_SHINGLE_K, CONTAM_BENCH_MOD
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS l
  FROM documents),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(l) - {k - 1}, 0)),
           i -> array_to_string(l[i:i + {k - 1}], ' '))) AS sh
  FROM t),
bench AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % {mod} = 0),
corpus AS (SELECT doc_id, sh FROM s WHERE doc_id % {mod} <> 0),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM corpus),
ov AS (SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       FROM ex JOIN bench USING (shingle) GROUP BY 1)
SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(CASE WHEN COALESCE(ov.n_overlap, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated
FROM corpus c LEFT JOIN ov USING (doc_id) ORDER BY c.doc_id
"""


ATTR_WINDOW_US = 6 * 3600 * 1_000_000  # attribution window: ±6h


def q_purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-range) join: for every purchase, the number of
    same-user clicks within ±6h (operators/interval_join — bucketized
    equi-join on (user, time-bucket), exact predicate after bucket
    collocation; a BroadcastNestedLoopJoin never appears, gated in the
    plan audit). The DuckDB oracle replays it with a plain inequality
    join, cross-validating the bucket arithmetic — a right row landing
    one bucket over from its left match is exactly the bug the oracle
    would catch."""
    from ..operators.interval_join import interval_join

    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click") \
        .select("user_id", F.col("ts").alias("click_ts"))
    pairs = interval_join(p, c, "user_id", "ts", "click_ts",
                          window_us=ATTR_WINDOW_US)
    counts = pairs.groupBy("event_id") \
        .agg(F.count(F.lit(1)).alias("n_clicks_6h"))
    return (
        p.join(counts, "event_id", "left")
        .select("event_id", "user_id",
                F.coalesce("n_clicks_6h", F.lit(0)).cast("long")
                .alias("n_clicks_6h"))
        .orderBy("event_id")
    )


SQL_PURCHASE_CLICK_ATTRIBUTION = f"""
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, CAST(COUNT(c.ts) AS BIGINT) AS n_clicks_6h
FROM p LEFT JOIN c ON p.user_id = c.user_id
 AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - {ATTR_WINDOW_US}
                        AND epoch_us(p.ts) + {ATTR_WINDOW_US}
GROUP BY 1, 2 ORDER BY 1
"""


SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6h inactivity closes a session


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) — the
    product-analytics staple: per user the FIRST occurrence of each stage
    (one map-side-combinable groupBy(user) with conditional mins), then
    one aggregate row counting users whose stage firsts are strictly
    ordered in time. Two partial/final aggregates total, no join, no
    window — the 100-TB cost is one pass over events. Ties and missing
    stages fall out of the strict < (NULL never satisfies it), replayed
    identically by the oracle."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    g = ev.groupBy("user_id").agg(
        first_of("view").alias("v"),
        first_of("click").alias("c"),
        first_of("purchase").alias("p"),
    )
    one = F.lit(1)
    return g.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("v").isNotNull(), one).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("v") < F.col("c"), one).otherwise(0))
         .alias("n_view_click"),
        F.sum(F.when((F.col("v") < F.col("c")) & (F.col("c") < F.col("p")),
                     one).otherwise(0)).alias("n_full_funnel"),
    )


SQL_EVENT_FUNNEL = """
WITH g AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS c,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN v < c THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN v < c AND c < p THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM g
"""


COHORT_MAX_OFFSET = 14  # days of retention tracked per cohort


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — per (signup-day cohort, day offset) the
    count of distinct cohort users active that day: the analytics table
    behind every retention curve. Shape: one groupBy(user) for the cohort
    anchor (first signup), one distinct (user, day) pass, then a
    co-partitioned hash join on user_id (the cohort relation is
    user-cardinality, NOT broadcastable at scale — both sides shuffle
    once on the same key) and one map-side-combinable count-distinct.
    Output bounded by days x offsets, never by users."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    day = F.col("ts").cast("date")
    cohorts = (ev.filter(F.col("event_type") == "signup")
               .groupBy("user_id")
               .agg(F.min(day).alias("cohort_day")))
    acts = ev.select("user_id", day.alias("active_day")).distinct()
    pairs = (acts.join(cohorts, "user_id")
             .withColumn("day_offset",
                         F.datediff("active_day", "cohort_day"))
             .filter((F.col("day_offset") >= 0)
                     & (F.col("day_offset") <= COHORT_MAX_OFFSET)))
    return (pairs.groupBy(
                F.col("cohort_day").cast("string").alias("cohort_day"),
                F.col("day_offset").cast("long").alias("day_offset"))
            .agg(F.countDistinct("user_id").alias("n_active"))
            .orderBy("cohort_day", "day_offset"))


SQL_COHORT_RETENTION = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS d FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
cohorts AS (
  SELECT user_id, MIN(d) AS cohort_day FROM ev
  WHERE event_type = 'signup' GROUP BY user_id),
acts AS (SELECT DISTINCT user_id, d AS active_day FROM ev),
pairs AS (
  SELECT c.cohort_day, a.active_day, a.user_id,
         datediff('day', c.cohort_day, a.active_day) AS day_offset
  FROM acts a JOIN cohorts c USING (user_id))
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM pairs
WHERE day_offset BETWEEN 0 AND {COHORT_MAX_OFFSET}
GROUP BY 1, 2 ORDER BY 1, 2
"""


HIST_BUCKETS, HIST_LO, HIST_WIDTH = 10, 0.0, 50.0  # [0, 500) equi-width


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type — the monitoring
    aggregate behind every metrics dashboard: 10 buckets of width 50
    over [0, 500) plus an overflow bucket, counted in ONE
    map-side-combinable groupBy. Bucket arithmetic is
    floor((value - lo) / width) clamped — identical IEEE double ops in
    both engines, then integer counts. Output bounded: types x buckets."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.expr(
        f"least(CAST(floor((value - {HIST_LO}) / {HIST_WIDTH}) AS BIGINT), "
        f"{HIST_BUCKETS})")
    return (ev.groupBy("event_type", bucket.alias("bucket"))
            .agg(F.count("*").alias("n"))
            .orderBy("event_type", "bucket"))


SQL_VALUE_HISTOGRAM = f"""
SELECT event_type,
       LEAST(CAST(FLOOR((value - {HIST_LO}) / {HIST_WIDTH}) AS BIGINT),
             {HIST_BUCKETS}) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


DEBOUNCE_US = 5_000_000  # drop an event within 5s of its predecessor
DEBOUNCE_OFFSET = 10_000_000  # planted duplicate-delivery event ids


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-delivery debounce — the telemetry-ingest cleanup that
    drops an event arriving within 5 s of the PREVIOUS event of the same
    (user, type) (adjacent-gap debounce, the at-least-once-delivery
    scrub). The fixture's events are day-sparse, so duplicate deliveries
    are PLANTED deterministically (event_id % 7 = 0 re-delivered 3 s
    later under event_id + offset). r6 shape: the LAG window the oracle
    itself states — one shuffle+sort per (user, type), the keep
    predicate a plain codegen comparison. (The r5 collect_list +
    transform form kept the same values but evaluated the adjacent-pair
    lambda INTERPRETED per element — measured 5.8 -> ~2.5 s at sf1.0;
    the window also removes the per-group buffering bound, so the
    bot-scale caveat in BENCH/events_analytics_scale.json goes away.)"""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    dup = ev.filter(F.col("event_id") % 7 == 0).select(
        (F.col("event_id") + DEBOUNCE_OFFSET).alias("event_id"),
        "user_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 3 SECONDS")).alias("ts"))
    allv = ev.unionByName(dup)
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (allv.withColumn("_prev", prev)
            .filter(F.col("_prev").isNull()
                    | (F.expr(f"timestampdiff(MICROSECOND, _prev, ts)"
                              f" > {DEBOUNCE_US}")))
            .select("event_id")
            .orderBy("event_id"))


SQL_EVENT_DEBOUNCE = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
planted AS (
  SELECT event_id + {DEBOUNCE_OFFSET} AS event_id, user_id, event_type,
         ts + INTERVAL 3 SECOND AS ts
  FROM base WHERE event_id % 7 = 0),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
l AS (
  SELECT event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev
  FROM allv)
SELECT event_id FROM l
WHERE prev IS NULL OR date_diff('microsecond', prev, ts) > {DEBOUNCE_US}
ORDER BY event_id
"""


PATH_TOP_K = 20


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis — the top event-type TRIGRAM sequences users walk
    within a (user, day) session: the product-analytics query behind
    "what do users do before purchasing". Sequences are built
    SESSION-LOCALLY (collect_list + array_sort on (ts, event_id, type)
    structs — the total order makes ties deterministic; no window over
    the event stream), trigrams extracted in codegen, one
    map-side-combinable count and a bounded TakeOrderedAndProject. The
    oracle rebuilds the same trigrams via ROW_NUMBER + rn-offset
    self-joins — different construction, value-identical paths.

    Scale note: per-group memory is bounded by the largest (user, day)
    session — fine for human-scale activity (thousands of events/day),
    measured at 100M rows in BENCH/events_analytics_scale.json. A bot
    firing millions of events into one session needs the windowed LAG
    formulation (one sort-exchange) instead of collect_list — same
    values, traded for the extra shuffle."""
    ev = load_spread(spark, sf_dir, "events",
                     "event_id", "user_id", "ts", "event_type").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    seqs = (ev.groupBy("user_id", F.col("ts").cast("date").alias("d"))
            .agg(F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("seq")))
    # trigram array in codegen; explode_outer + isNotNull on the generator
    # OUTPUT (never a size() filter on the HOF-built array — the inferred
    # filter would inline the whole kernel twice)
    # CASE guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) — a 1- or
    # 2-event session would otherwise emit a truncated ghost path
    tri = F.expr(
        "CASE WHEN size(seq) >= 3 THEN "
        "transform(sequence(1, size(seq) - 2), i -> "
        "concat_ws('>', seq[i-1].event_type, seq[i].event_type, "
        "seq[i+1].event_type)) ELSE array() END")
    paths = (seqs.select(F.explode_outer(tri).alias("path"))
             .filter(F.col("path").isNotNull()))
    return (paths.groupBy("path").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("path").asc())
            .limit(PATH_TOP_K))


SQL_EVENT_PATHS = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
tri AS (
  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
  FROM e a
  JOIN e b ON b.user_id = a.user_id AND b.d = a.d AND b.rn = a.rn + 1
  JOIN e c ON c.user_id = a.user_id AND c.d = a.d AND c.rn = a.rn + 2)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY path
ORDER BY n DESC, path ASC
LIMIT {PATH_TOP_K}
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user 6h-inactivity-gap sessions with exact
    integer stats, via the classic lag + break-flag + cumulative-sum
    formulation. r6: this replaces the native ``session_window``
    aggregate — value-identical (set-equality tested against it at
    sf0.01, and the oracle states this same formulation), measured
    3.3 -> 2.7 s at sf1.0: ONE shuffle+sort per user serves both window
    passes (lag and running sum share the sort order), and the
    session_window plan's extra merging pass and row_number sort
    disappear. The session index is the running count of session breaks
    in time order — identical to row_number over session start."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_brk",
            F.when(F.col("_prev").isNull()
                   | (F.expr("timestampdiff(MICROSECOND, _prev, ts)")
                      >= SESSION_GAP_US), 1).otherwise(0))
        .withColumn("_sess", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        s.groupBy("user_id", "_sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .alias("n_purchases"),
            F.min("ts").alias("_t0"),
            F.max("ts").alias("_t1"),
        )
        .withColumn("session_idx", F.col("_sess").cast("int"))
        # timestampdiff is timezone-independent on TIMESTAMP_NTZ — exact
        # integer microseconds, matching the oracle's epoch_us difference
        .withColumn("duration_us",
                    F.expr("timestampdiff(MICROSECOND, _t0, _t1)"))
        .select("user_id", "session_idx", "n_events", "n_purchases",
                "duration_us")
        .orderBy("user_id", "session_idx")
    )


SQL_EVENT_SESSIONS = f"""
WITH l AS (
  SELECT user_id, ts, event_type, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
f AS (SELECT *, CASE WHEN pts IS NULL
                       OR epoch_us(ts) - epoch_us(pts) >= {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS brk FROM l),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess FROM f)
SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span statistics per document (the fixed-K reduction
    of suffix-array substring dedup — see
    ``operators.dedup.duplicate_span_stats`` for the two-pass plan shape
    and its 100-TB story)."""
    return dd.duplicate_span_stats(
        load_spread(spark, sf_dir, "documents", "doc_id", "text")) \
        .orderBy("doc_id")


def _sql_dup_spans() -> str:
    k, t = dd.DUPSPAN_K, dd.DUPSPAN_MIN_DOCS
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(COALESCE(text, ''), ' '),
                     x -> x <> '') AS l
  FROM documents),
s AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, GREATEST(len(l) - {k - 1}, 0)),
           i -> array_to_string(l[i : i + {k - 1}], ' ')) AS sp
  FROM tok),
ex AS (SELECT doc_id, unnest(sp) AS span FROM s),
dic AS (
  SELECT span FROM (
    SELECT span, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY span)
  WHERE df >= {t}),
st AS (
  SELECT ex.doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN dic.span IS NOT NULL THEN 1 ELSE 0 END) AS dup_spans
  FROM ex LEFT JOIN dic USING (span)
  GROUP BY ex.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(st.dup_spans, 0) AS BIGINT) AS dup_spans,
       COALESCE(st.dup_spans, 0) > 0 AS has_dup
FROM documents d LEFT JOIN st USING (doc_id)
ORDER BY d.doc_id
"""


TEXTDATA_QUERIES = {
    "collocations_dice": (q_collocations_dice, _sql_collocations_dice()),
    "doc_familiarity": (q_doc_familiarity, _sql_doc_familiarity()),
    "host_quality_profile": (q_host_quality_profile,
                             _sql_host_quality_profile()),
    "pii_redaction": (q_pii_redaction, _sql_pii_redaction()),
    "quality_weighted_sample": (q_quality_weighted_sample,
                                _sql_quality_weighted_sample()),
    "dup_spans": (q_dup_spans, _sql_dup_spans()),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "table_profile": (q_table_profile, _sql_table_profile()),
    "hash_sample_docs": (q_hash_sample_docs, _sql_hash_sample()),
    "stratified_sample_docs": (q_stratified_sample_docs, _sql_stratified_sample()),
    "vocab_stats": (q_vocab_stats, _sql_vocab_stats()),
    "tfidf_top_terms": (q_tfidf_top_terms, _sql_tfidf_top_terms()),
    "doc_repetition": (q_doc_repetition, _sql_doc_repetition()),
    "benchmark_contamination": (q_benchmark_contamination,
                                _sql_benchmark_contamination()),
    "pipeline_clean_corpus": (q_pipeline_clean_corpus, _sql_pipeline_clean_corpus()),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_kept_docs": (q_dedup_kept_docs, SQL_DEDUP_KEPT_DOCS),
    "minhash_signatures": (q_minhash_signatures, _sql_minhash()),
    "lsh_pairs": (q_lsh_pairs, _sql_lsh_pairs()),
    "lsh_bucket_stats": (q_lsh_bucket_stats, _sql_lsh_bucket_stats()),
    "simhash": (q_simhash, _sql_simhash()),
    "simhash_near_dups": (q_simhash_near_dups, _sql_simhash_near_dups()),
    "ngram_jaccard": (q_ngram_jaccard, _sql_ngram_jaccard()),
    "dedup_components": (q_dedup_components, _sql_dedup_components()),
    "near_dedup_kept_docs": (q_near_dedup_kept_docs,
                             _sql_near_dedup_kept_docs()),
    "incremental_dedup": (q_incremental_dedup, _sql_incremental_dedup()),
    "url_canonicalize": (q_url_canonicalize, _sql_url_canonicalize()),
    "embedding_knn": (q_embedding_knn, SQL_EMBEDDING_KNN),
    "ann_multiprobe": (q_ann_multiprobe, _sql_ann_multiprobe()),
    "embedding_near_dups": (q_embedding_near_dups, _sql_embedding_near_dups()),
    "ann_ivf": (q_ann_ivf, _sql_ann_ivf()),
    "events_window": (q_events_window, SQL_EVENTS_WINDOW),
    "asof_last_purchase": (q_asof_last_purchase, SQL_ASOF_LAST_PURCHASE),
    "purchase_click_attribution": (q_purchase_click_attribution,
                                   SQL_PURCHASE_CLICK_ATTRIBUTION),
    "event_sessions": (q_event_sessions, SQL_EVENT_SESSIONS),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "event_paths": (q_event_paths, SQL_EVENT_PATHS),
    "script_mix": (q_script_mix, _sql_script_mix()),
    "event_debounce": (q_event_debounce, SQL_EVENT_DEBOUNCE),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "binary_metadata": (q_binary_metadata, SQL_BINARY_METADATA),
    "image_stats": (q_image_stats, SQL_IMAGE_STATS),
    "audio_stats": (q_audio_stats, SQL_AUDIO_STATS),
    "sequence_packing": (q_sequence_packing, _sql_sequence_packing()),
    "split_leakage": (q_split_leakage, _sql_split_leakage()),
    "token_drift": (q_token_drift, SQL_TOKEN_DRIFT),
}
