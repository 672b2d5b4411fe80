"""Text-analysis functions for web-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprints.

All built-in column expressions (JVM, codegen) with exact DuckDB twins;
ratios are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "a"],
    "de": ["der", "die", "und", "das", "ist", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "de", "es", "que"],
}


# BPE-ish pre-tokenizer regex (GPT-2-style shape, engine-portable
# subset: letter runs, single digits, punctuation runs — Java and RE2
# agree on this class-only pattern)
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"


def bpe_token_count_col(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def bpe_token_count_sql(text_col: str = "text") -> str:
    return f"len(regexp_extract_all({text_col}, '{BPE_TOKEN_RE}'))"


# Karp-Rabin rolling document fingerprint over whitespace tokens:
# h = fold(h * B + token_hash) mod P. B and P chosen so every
# intermediate product fits in int64 (B, P < 2^31 -> product < 2^62),
# making the exact same integers computable in DuckDB.
FP_P = 2_147_483_647  # 2^31 - 1
FP_B = 1_000_003


def rolling_fingerprint_col(text_col: str = "text") -> Column:
    """Left fold over whitespace tokens, pure JVM expression."""
    tok_h = "CAST(conv(substring(sha2(x, 256), 1, 7), 16, 10) AS BIGINT)"
    return F.expr(
        f"aggregate(split({text_col}, ' '), CAST(0 AS BIGINT), "
        f"(h, x) -> (h * {FP_B} + {tok_h}) % {FP_P})"
    )


def rolling_fingerprint_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin: the same left fold as a recursive CTE (DuckDB's
    list_reduce has no typed init accumulator), one iteration per token
    position — exact integer parity with the Spark aggregate()."""
    tok_h = "CAST(concat('0x', substr(sha256(d.toks[f.i + 1]), 1, 7)) AS BIGINT)"
    return f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, string_split({text_col}, ' ') AS toks FROM {table}
        ),
        fp(doc_id, i, h) AS (
          SELECT doc_id, 0, CAST(0 AS BIGINT) FROM d
          UNION ALL
          SELECT f.doc_id, f.i + 1,
                 (f.h * {FP_B} + {tok_h}) % {FP_P}
          FROM fp f JOIN d ON d.doc_id = f.doc_id
          WHERE f.i < len(d.toks)
        )
        SELECT f.doc_id, f.h AS rolling_fp
        FROM fp f
        JOIN d ON d.doc_id = f.doc_id
        WHERE f.i = len(d.toks)
    """


def _stop_hits_expr(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter(split(text, ' '), x -> x IN ({words})))"


def _stop_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({words})))"


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds (n_tokens, avg_token_len, stopword_ratio, alpha_ratio,
    quality_score, fingerprint).

    quality_score: bounded blend of length, stopword and alpha signals —
    the kind of cheap heuristic used to filter crawl text before
    training. Deterministic, fully JVM-side.
    """
    t = F.col(text_col)
    toks = F.split(t, " ")
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    avg_tok = F.round((n_chars - n_tokens + 1) / n_tokens, 6)
    stop_hits = F.expr(_stop_hits_expr("en"))
    stop_ratio = F.round(stop_hits / n_tokens, 6)
    alpha_chars = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    alpha_ratio = F.round(alpha_chars / n_chars, 6)
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / 100.0) * 0.4
        + F.least(F.lit(1.0), stop_hits / F.greatest(n_tokens / 10.0, F.lit(1.0))) * 0.3
        + alpha_chars / n_chars * 0.3,
        6,
    )
    fingerprint = F.substring(F.sha2(t, 256), 1, 16)
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_tokens", bpe_token_count_col(t))
        .withColumn("avg_token_len", avg_tok)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("quality_score", quality)
        .withColumn("fingerprint", fingerprint)
    )


def text_features_sql(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins keyed by output column."""
    t = text_col
    toks = f"string_split({t}, ' ')"
    n_tokens = f"len({toks})"
    n_chars = f"length({t})"
    stop_hits = _stop_hits_sql("en")
    alpha = f"length(regexp_replace({t}, '[^a-zA-Z]', '', 'g'))"
    return {
        "n_tokens": n_tokens,
        "n_bpe_tokens": bpe_token_count_sql(t),
        "avg_token_len": f"round(({n_chars} - {n_tokens} + 1) / {n_tokens}, 6)",
        "stopword_ratio": f"round({stop_hits} / {n_tokens}, 6)",
        "alpha_ratio": f"round({alpha} / {n_chars}, 6)",
        "quality_score": (
            f"round(LEAST(1.0, {n_tokens} / 100.0) * 0.4"
            f" + LEAST(1.0, {stop_hits} / GREATEST({n_tokens} / 10.0, 1.0)) * 0.3"
            f" + {alpha} / {n_chars} * 0.3, 6)"
        ),
        "fingerprint": f"substr(sha256({t}), 1, 16)",
    }


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits,
    ties and zero-evidence -> 'unk'. (A real n-gram model plugs into the
    same shape; the engine contract is the deterministic argmax.)"""
    hits = {lang: F.expr(_stop_hits_expr(lang)) for lang in STOPWORDS}
    best = None
    best_n = None
    for lang in sorted(STOPWORDS):
        h = hits[lang]
        if best is None:
            best, best_n = F.lit(lang), h
        else:
            cond = h > best_n
            best = F.when(cond, lang).otherwise(best)
            best_n = F.when(cond, h).otherwise(best_n)
    pred = F.when(best_n > 0, best).otherwise("unk")
    return docs.withColumn("pred_lang", pred)


def lang_id_sql(text_col: str = "text") -> str:
    """DuckDB twin of with_lang_id's pred_lang expression."""
    hits = {lang: _stop_hits_sql(lang) for lang in sorted(STOPWORDS)}
    langs = sorted(STOPWORDS)
    best, best_n = f"'{langs[0]}'", hits[langs[0]]
    for lang in langs[1:]:
        h = hits[lang]
        best = f"CASE WHEN {h} > ({best_n}) THEN '{lang}' ELSE ({best}) END"
        best_n = f"CASE WHEN {h} > ({best_n}) THEN ({h}) ELSE ({best_n}) END"
    return f"CASE WHEN ({best_n}) > 0 THEN ({best}) ELSE 'unk' END"
