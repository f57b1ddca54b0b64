"""Text-analysis column functions for training-data pipelines: token
counting, quality scoring, language-ID heuristic, document fingerprinting.

All pure JVM expressions (whole-stage codegen; no Python), built so the
same arithmetic can be emitted as DuckDB SQL by the oracle builders
(integer outputs, floor-of-double only on exact small-int ratios).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .._arrow_np import SEP
from ..sketches.hashing import MERSENNE_PRIME

STOPWORDS = ("the", "a", "of", "and", "to")
FINGERPRINT_BASE = 131


def tokens_col(text: str = "text") -> Column:
    """Non-empty tokens of a text column, split on ``_arrow_np.SEP`` like
    the Arrow tokenizers."""
    return F.filter(F.split(F.col(text), SEP), lambda t: t != F.lit(""))


def n_tokens(text: str = "text") -> Column:
    return F.size(tokens_col(text)).cast("bigint")


def stopword_count(text: str = "text") -> Column:
    toks = tokens_col(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("bigint")


def stopword_ratio_bp(text: str = "text") -> Column:
    return F.floor(stopword_count(text) * 10000.0 / F.greatest(n_tokens(text), F.lit(1))).cast("bigint")


# Subword-ish tokenizer pattern (BPE-style pre-tokenization): letter runs,
# digit runs, and single non-alphanumeric marks. Restricted to constructs
# that mean the same thing in Java regex (Spark) and RE2 (DuckDB).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def quality_score_bp(text: str = "text") -> Column:
    """Deterministic quality score in basis points: rewards mid-length docs
    and presence of stopwords (webtext heuristics: too-short and
    stopword-free documents are usually boilerplate/navigation)."""
    nt = n_tokens(text)
    len_ok = (nt >= 30) & (nt <= 500)
    sw_bp = stopword_ratio_bp(text)
    return (
        F.when(len_ok, F.lit(5000)).otherwise(F.lit(0))
        + F.least(sw_bp * 5, F.lit(5000))
    ).cast("bigint")


def lang_id_pred(text: str = "text") -> Column:
    """Character-frequency language-ID heuristic (deterministic n-gram-ish
    rule set; real models would be plugged in the same column slot):
    ranks langs by per-char signals."""
    t = F.col(text)
    n = F.greatest(F.length(t), F.lit(1))
    def ratio_bp(ch: str) -> Column:
        return F.floor(
            (F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))) * 10000.0 / n
        ).cast("bigint")
    e_bp, k_bp, z_bp, q_bp = ratio_bp("e"), ratio_bp("k"), ratio_bp("z"), ratio_bp("q")
    return (
        F.when(z_bp > 200, F.lit("zh"))
        .when(q_bp > 150, F.lit("fr"))
        .when(k_bp > 400, F.lit("de"))
        .when(e_bp > 300, F.lit("en"))
        .otherwise(F.lit("it"))
    )


def doc_fingerprint(text: str = "text") -> Column:
    """Polynomial rolling hash of the document bytes mod 2^31-1 — a
    content fingerprint for exact/shifted-dup detection. fold:
    h = (h*131 + code) % p over characters."""
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col(text)), F.lit(1))),
        lambda i: F.ascii(F.substring(F.col(text), i, 1)).cast("bigint"),
    )
    return F.when(F.length(F.col(text)) == 0, F.lit(0).cast("bigint")).otherwise(
        F.aggregate(
            codes,
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * FINGERPRINT_BASE + c) % MERSENNE_PRIME,
        )
    )


# ---- DuckDB mirrors -------------------------------------------------------

def duck_tokens(text_expr: str = "text") -> str:
    return f"list_filter(string_split({text_expr}, ' '), t -> t <> '')"


def duck_n_tokens(text_expr: str = "text") -> str:
    return f"CAST(len({duck_tokens(text_expr)}) AS BIGINT)"


def duck_stopword_count(text_expr: str = "text") -> str:
    in_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        f"CAST(len(list_filter({duck_tokens(text_expr)}, t -> t IN ({in_list}))) AS BIGINT)"
    )


def duck_avg_token_len_bp(text_expr: str = "text") -> str:
    toks = duck_tokens(text_expr)
    return (
        f"CAST(FLOOR(list_sum(list_transform({toks}, t -> CAST(length(t) AS BIGINT))) * 100.0 "
        f"/ GREATEST(len({toks}), 1)) AS BIGINT)"
    )


def duck_bpe_ish_token_count(text_expr: str = "text") -> str:
    return (
        f"CAST(len(regexp_extract_all({text_expr}, '{BPE_ISH_PATTERN}')) AS BIGINT)"
    )


def duck_stopword_ratio_bp(text_expr: str = "text") -> str:
    return (
        f"CAST(FLOOR({duck_stopword_count(text_expr)} * 10000.0 "
        f"/ GREATEST({duck_n_tokens(text_expr)}, 1)) AS BIGINT)"
    )


def duck_quality_score_bp(text_expr: str = "text") -> str:
    nt = duck_n_tokens(text_expr)
    sw = duck_stopword_ratio_bp(text_expr)
    return (
        f"CAST((CASE WHEN {nt} >= 30 AND {nt} <= 500 THEN 5000 ELSE 0 END) "
        f"+ LEAST({sw} * 5, 5000) AS BIGINT)"
    )


def duck_lang_id_pred(text_expr: str = "text") -> str:
    n = f"GREATEST(length({text_expr}), 1)"
    def ratio_bp(ch: str) -> str:
        return (
            f"CAST(FLOOR((length({text_expr}) - length(replace({text_expr}, '{ch}', ''))) "
            f"* 10000.0 / {n}) AS BIGINT)"
        )
    return (
        f"CASE WHEN {ratio_bp('z')} > 200 THEN 'zh' "
        f"WHEN {ratio_bp('q')} > 150 THEN 'fr' "
        f"WHEN {ratio_bp('k')} > 400 THEN 'de' "
        f"WHEN {ratio_bp('e')} > 300 THEN 'en' "
        f"ELSE 'it' END"
    )


def duck_doc_fingerprint(text_expr: str = "text") -> str:
    codes = (
        f"list_transform(range(1, length({text_expr}) + 1), "
        f"i -> CAST(ascii(substring({text_expr}, i, 1)) AS BIGINT))"
    )
    return (
        f"CASE WHEN length({text_expr}) = 0 THEN 0 ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), "
        f"(h, c) -> (h * {FINGERPRINT_BASE} + c) % {MERSENNE_PRIME}) END"
    )
