"""Text-analysis operators for LLM training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions — tokenization,
quality scoring, language ID, and fingerprinting run inside whole-stage
codegen with zero Python in the hot path, so they stream through a 100 TB
document scan at parquet-read speed.

Operates on the ``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.formatting import sql_ident, sql_str

# Minimal deterministic stopword lists for the n-gram/stopword language-ID
# heuristic. Real deployments would swap in larger lists; the operator shape
# (score = |tokens ∩ stopwords| per language, argmax) is what matters.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "das", "und", "ist", "von", "den", "ein", "eine", "mit"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "他", "这", "不"],
}

PUNCT_RE = r"[\.,;:!\?'\"()\[\]{}\-]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty tokens removed (leading/trailing
    whitespace would otherwise produce '' entries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def tokens_sql(text_col: str) -> str:
    """``tokens`` of the column ``text_col`` as a SQL expression string."""
    ws = sql_str(r"\s+")
    return f"filter(split(trim({sql_ident(text_col)}), {ws}), t -> t != '')"


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token-count proxy for BPE vocabularies: splits on word boundaries AND
    punctuation so 'don't' counts 3, like a byte-pair encoder roughly would.
    Pure regexp — no tokenizer library needed for budget estimates."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.filter(F.split(c, r"[\s\.,;:!\?'\"()\[\]{}\-]+"), lambda t: t != "")
    return F.size(pieces)


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring columns: length, token stats, punctuation ratio,
    stopword ratio, distinct-token ratio. These are the standard cheap
    filters (C4/Gopher-style) applied before expensive dedup/embedding.

    One ``selectExpr`` of SQL strings over a token array materialized in
    a projection of its own: Catalyst does not eliminate common
    subexpressions into lambdas, so an inline tokenization would run
    once per use."""
    text = sql_ident(text_col)
    tokenized = f"{tokens_sql(text_col)} AS _q_toks"
    stop = ", ".join(map(sql_str, LANG_STOPWORDS["en"]))
    n_tok, n_char = "size(_q_toks)", f"length({text})"
    n_punct = f"{n_char} - length(regexp_replace({text}, {sql_str(PUNCT_RE)}, ''))"
    n_stop = f"size(filter(_q_toks, t -> array_contains(array({stop}), lower(t))))"
    return df.selectExpr("*", tokenized).selectExpr(
        *map(sql_ident, df.columns),
        f"{n_char} AS q_n_chars",
        f"{n_tok} AS q_n_tokens",
        f"CASE WHEN {n_tok} > 0 THEN CAST({n_char} AS DOUBLE) / {n_tok} END AS q_avg_token_len",
        f"CASE WHEN {n_char} > 0 THEN CAST({n_punct} AS DOUBLE) / {n_char} ELSE 0D END AS q_punct_ratio",
        f"CASE WHEN {n_tok} > 0 THEN CAST({n_stop} AS DOUBLE) / {n_tok} ELSE 0D END AS q_stopword_ratio",
        f"CASE WHEN {n_tok} > 0 THEN CAST(size(array_distinct(_q_toks)) AS DOUBLE) / {n_tok} END "
        "AS q_distinct_ratio",
    )


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language ID: score each language by the number of
    its stopwords present in the text, argmax with deterministic tie-break
    (language code ascending), 'und' when no stopword hits at all.

    Expression shape matters here: catalyst does NOT common-subexpression
    -eliminate inside lambda functions, so the obvious formulation (one
    ``array_intersect(toks, …)`` per language + an outer ``WHEN best.score
    > 0``) re-evaluated the whole tokenization 5x per language and the
    whole fold twice — ~10 tokenizations per row in the executed plan
    (round-10 finding). Two restructures keep every subexpression
    single-evaluation:

    * ``toks`` is lambda-BOUND via a 1-element ``aggregate`` (the only
      way to "let-bind" a value inside a single Column), so the
      split/filter/lower/distinct chain runs exactly once per row;
    * the fold starts at ``(score=0, 'und')`` with a strict ``>`` — a
      language with zero hits never beats the init, so the result is
      plain ``best.code`` with no duplicating outer WHEN. Tie-break is
      unchanged: first (lexicographically smallest) code at the max.
    """
    toks = F.array_distinct(F.transform(tokens(col), lambda t: F.lower(t)))
    init = F.struct(F.lit(0).alias("score"), F.lit("und").alias("code"))

    def _fold_langs(acc: Column, tk: Column) -> Column:
        scored = F.array(*[
            F.struct(
                F.size(F.array_intersect(
                    tk, F.array(*[F.lit(s) for s in LANG_STOPWORDS[code]])
                )).alias("score"),
                F.lit(code).alias("code"),
            )
            for code in sorted(LANG_STOPWORDS)
        ])
        # fold keeps the FIRST language strictly beating the running max →
        # deterministic tie-break toward the lexicographically smallest code.
        return F.aggregate(
            scored, acc, lambda a, s: F.when(s["score"] > a["score"], s).otherwise(a)
        )

    best = F.aggregate(F.array(toks), init, _fold_langs)
    return best["code"]


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased text.
    md5 is available in both Spark and DuckDB, so the oracle can verify it;
    xxhash64 is the faster production choice (see ``simhash`` in dedup)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """RAG-ingestion chunking: split each document into overlapping
    token windows (``chunk_size`` tokens, stepping ``chunk_size -
    overlap``), the unit the reference embeds and upserts per row
    (src/services/sentence_builder.py builds one embeddable text per
    day-window; a general RAG pipeline needs N chunks per document).

    Pure column expressions: tokenize once, ``sequence`` generates the
    window starts, ``posexplode`` fans out, ``slice`` carves each
    window — zero Python, zero shuffle (chunking is a projection; the
    explode multiplies rows map-side, which is exactly how a 100 TB
    corpus wants it: no pre-chunk repartition, downstream ops shuffle
    the already-smaller chunks). Empty documents yield zero chunks.
    Tail windows shorter than ``overlap`` still emit (deterministic,
    and the embed stage pads anyway)."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    tk = tokens(text_col)
    d = df.withColumn("_tk", tk).withColumn("_n", F.size("_tk")).filter(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step))
    return d.select(
        F.col(id_col),
        F.col("_tk"),
        F.posexplode(starts).alias("chunk_id", "_s"),
    ).select(
        id_col,
        "chunk_id",
        F.array_join(F.slice("_tk", F.col("_s") + 1, chunk_size), " ").alias("chunk"),
        F.least(F.lit(chunk_size), F.size("_tk") - F.col("_s")).alias("chunk_ntok"),
    )
