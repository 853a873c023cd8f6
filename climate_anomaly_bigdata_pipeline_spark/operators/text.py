"""Text-analysis operators for training-data pipelines (SURVEY §2.10).

Tokenization, term statistics, language-ID heuristics, quality scoring,
and document fingerprinting over a long-text column — all pure column
expressions (no UDFs): they run inside whole-stage codegen and scale
with the scan. Every recipe here is portable to ANSI-ish SQL so the
DuckDB oracle can mirror it exactly (md5 for fingerprints — not
Spark's Murmur3 ``hash``, which is engine-specific; SURVEY §2.7).

Scale notes: term-frequency explodes tokens (row count × avg tokens);
at 100 TB push any per-document filter before the explode, and cap
top-k with a deterministic tiebreak rather than collecting counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Small default stopword list present in the synthetic corpus and in
#: real English text alike.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_expr(text_col: str | Column = "text") -> Column:
    """Whitespace tokens of lower-cased, trimmed text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def term_frequency(
    df: DataFrame, text_col: str = "text", term_name: str = "term"
) -> DataFrame:
    """Corpus-wide term frequency: tokenize → explode → count."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias(term_name))
        .groupBy(term_name)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", scale: int = 4
) -> DataFrame:
    """Per-document token statistics: counts, average token length, a
    BPE-ish subword estimate (ceil(len/4) per token, the common
    ~4-chars-per-token heuristic), and stopword ratio.

    Implemented as explode → grouped conditional aggregation → join
    back, NOT per-row array folds: Spark's higher-order functions
    (``aggregate``/``filter`` lambdas) run interpreted outside
    whole-stage codegen and re-evaluate the tokenizer per expression —
    ~20× slower at corpus scale. The explode route is one shuffle of
    (id, token) pairs, fully codegen'd, and partially aggregated
    map-side. All arithmetic is integer until the final ratios, so the
    results are exact and engine-portable.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("__tok"))
    tl = F.length("__tok")
    stats = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.ceil(tl / 4).cast("int")).cast("int").alias("bpe_token_est"),
        F.sum(tl).alias("__char_sum"),
        F.sum(F.col("__tok").isin(*EN_STOPWORDS).cast("int")).alias("__stop_hits"),
    )
    out = df.join(stats, id_col)
    return out.withColumns(
        {
            "avg_token_len": F.round(
                F.col("__char_sum").cast("double") / F.col("n_tokens").cast("double"),
                scale,
            ),
            "stopword_ratio": F.round(
                F.col("__stop_hits").cast("double") / F.col("n_tokens").cast("double"),
                scale,
            ),
        }
    ).drop("__char_sum", "__stop_hits")


def quality_score(
    df: DataFrame,
    n_tokens_col: str = "n_tokens",
    stopword_ratio_col: str = "stopword_ratio",
    avg_token_len_col: str = "avg_token_len",
    out: str = "quality",
) -> DataFrame:
    """Three-way quality classification (the reference's when/otherwise
    chain idiom, ``jobs/03_silver_to_gold.py:101-105``): short or
    stopword-free documents are LOW, long natural-looking ones HIGH."""
    return df.withColumn(
        out,
        F.when(
            (F.col(n_tokens_col) < 10) | (F.col(stopword_ratio_col) <= 0), "LOW"
        )
        .when(
            (F.col(n_tokens_col) >= 40)
            & (F.col(stopword_ratio_col) >= 0.05)
            & (F.col(avg_token_len_col) <= 8),
            "HIGH",
        )
        .otherwise("MEDIUM"),
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = EN_STOPWORDS,
    threshold: float = 0.03,
    out: str = "lang_pred",
    scale: int = 4,
) -> DataFrame:
    """Stopword-ratio language heuristic: predict ``en`` when the
    English stopword ratio clears the threshold, else ``unknown``.
    (A real system scores several languages' stopword sets the same
    way and argmaxes — one column per language, same expressions.)"""
    toks = tokens_expr(text_col)
    ratio = F.round(
        F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("double")
        / F.size(toks).cast("double"),
        scale,
    )
    return df.withColumn("en_score", ratio).withColumn(
        out, F.when(F.col("en_score") >= threshold, "en").otherwise("unknown")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top: int = 3,
    scale: int = 4,
) -> DataFrame:
    """Per-document TF-IDF with the top-``top`` terms per document.

    tf = term count within the document; idf = ln((N+1)/(df+1)) with
    the corpus size N carried as a broadcast one-row aggregate (never a
    driver-side collect); score = round(tf·idf, scale). Ranking uses
    the ROUNDED score (desc, then term asc) so the per-document top-k
    boundary is identical in any engine regardless of last-ulp ln()
    differences.

    Shape: explode → (doc, term) count → term-keyed doc-frequency agg →
    one shuffle join back on term. At 100 TB the df table is vocab-
    sized (zipf-bounded); broadcast it if it fits, else this stays a
    well-partitioned shuffle join on a high-cardinality key.
    """
    from pyspark.sql import Window

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(parallelism, id_col).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0))
                ),
                scale,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(id_col, "term", "tf", "df_t", "score", "rank")
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint"
) -> DataFrame:
    """Deterministic, engine-portable document fingerprint:
    md5 of whitespace-normalized, lower-cased text."""
    norm = F.array_join(tokens_expr(text_col), " ")
    return df.withColumn(out, F.md5(norm))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", scale: int = 4
) -> DataFrame:
    """Gopher-style repetition quality signals per document: type-token
    ratio (distinct/total tokens) and the fraction of tokens taken by
    the single most frequent token. Low TTR / high top-token fraction
    marks boilerplate and degenerate generations — the standard
    pretraining repetition filter (Rae et al. 2021, §A1.1), adapted to
    token granularity.

    Explode → codegen'd two-level aggregation, NOT an in-row
    higher-order fold: the modal-token count as
    ``array_max(transform(distinct, t -> size(filter(toks, = t))))``
    is O(distinct × n) per document in the INTERPRETED HOF evaluator —
    measured 60 s for 50 k docs at sf1 versus ~4 s for this shape
    (same 100× penalty BASELINE.md records for doc_quality_scores).
    The one keyed shuffle of (doc, token) counts is the price of
    staying inside whole-stage codegen, and it partial-aggregates
    map-side. ``split`` never yields an empty array (empty text →
    [""]), so the explode drops no documents.
    """
    toks = tokens_expr(text_col)
    per_tok = (
        df.select(id_col, F.explode(toks).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    g = per_tok.groupBy(id_col).agg(
        F.sum("__cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("__cnt").alias("__top_cnt"),
    )
    n = F.col("n_tokens")
    return g.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(F.col("n_distinct").cast("double") / n, scale).alias("ttr"),
        F.round(F.col("__top_cnt").cast("double") / n, scale).alias(
            "top_token_frac"
        ),
    )


#: Engine-portable PII patterns — kept to syntax shared by Java regex
#: (Spark) and RE2 (DuckDB): no backrefs, no lookarounds.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUM_RE = r"[0-9]{7,}"


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "<EMAIL>",
    number_token: str = "<NUM>",
) -> DataFrame:
    """Redact emails and long digit runs (phone/account numbers) from a
    text column, keeping per-row match counts for audit. The standard
    pre-training scrub pass; patterns are portable across Java regex
    and RE2 so the oracle can replay them.

    Row-local regexp_count + regexp_replace — JVM codegen, no shuffle,
    scales with the scan.
    """
    c = F.col(text_col)
    return df.withColumn(
        "n_emails", F.regexp_count(c, F.lit(EMAIL_RE)).cast("long")
    ).withColumn(
        "n_numbers", F.regexp_count(c, F.lit(LONG_NUM_RE)).cast("long")
    ).withColumn(
        "scrubbed",
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, email_token), LONG_NUM_RE, number_token
        ),
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 4,
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) plus
    char counts — the symbol-distribution quality gate that catches
    what token stats can't: base64/hex blobs and repeated-char padding
    score far from natural text (~4.1 bits for English), so a simple
    band filter on entropy removes both extremes.

    Explode positions → per-(doc, char) counts → per-doc fold:
    ``-Σ (k/n)·log2(k/n)``. Two grouped aggregations keyed by doc id —
    the char alphabet keeps the intermediate at |docs|×|alphabet|, so
    the whole thing is scan-dominated and codegen'd at any corpus size.
    """
    # split on the empty pattern yields one array element per char in
    # both Spark and DuckDB — verified identical, so the oracle mirrors
    # this expression verbatim.
    chars = df.select(
        F.col(id_col), F.explode(F.split(text_col, "")).alias("ch")
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("k"))
    totals = counts.groupBy(id_col).agg(
        F.sum("k").alias("n"), F.count(F.lit(1)).alias("n_distinct_chars")
    )
    p = F.col("k") / F.col("n")
    return (
        counts.join(totals, id_col)
        .groupBy(id_col, "n", "n_distinct_chars")
        .agg(F.round(-F.sum(p * F.log2(p)), scale).alias("char_entropy"))
        .select(
            id_col,
            F.col("n").cast("long").alias("n_chars"),
            F.col("n_distinct_chars").cast("long").alias("n_distinct_chars"),
            "char_entropy",
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-length chunking step that turns variable-length documents
    into training sequences. Chunk *i* starts at token
    1 + i*(chunk_size − overlap); the final chunk may be short.

    Row-local: start offsets and slices are array expressions, and the
    explode multiplies rows by ~len/step without any shuffle — the
    chunker scales with the scan. Emits (id, chunk_idx 1-based,
    n_chunk_tokens, chunk_md5); carry the text itself by joining back
    on (id, chunk_idx) when a downstream stage actually needs bytes.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    toks = tokens_expr(text_col)
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(step)),
        lambda s: F.slice(toks, s, chunk_size),
    )
    exploded = df.select(id_col, F.posexplode(chunks).alias("__pos", "__chunk"))
    return exploded.select(
        id_col,
        (F.col("__pos") + 1).cast("long").alias("chunk_idx"),
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("__chunk", " ")).alias("chunk_md5"),
    )


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 4,
) -> DataFrame:
    """Model-based quality scoring with a self-trained unigram LM:
    train token probabilities ``p(t) = count(t) / total`` on the corpus
    itself, then score each document by average negative log-likelihood
    ``avg(-ln p(t))`` — the classic perplexity-style filter (KenLM-shaped
    quality gates) reduced to its simplest portable model. Low scores =
    typical language, high scores = rare-token-heavy outlier docs.

    Plan: one explode+count for the LM (vocabulary-sized, tiny relative
    to the corpus), broadcast back onto the exploded tokens, one grouped
    avg per doc. At 100 TB the vocab of whitespace tokens still fits in
    a broadcast for natural-language corpora; if it didn't, the same
    plan works as a shuffle join keyed by token — swap the hint, nothing
    else. Every token is in-vocabulary by construction (trained on the
    same corpus), so no OOV smoothing term is needed.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    )
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_n"))
    total = lm.agg(F.sum("tok_n").alias("t")).select("t")
    lm = lm.crossJoin(F.broadcast(total)).select(
        "tok", (F.col("tok_n") / F.col("t")).alias("p")
    )
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log("p")), scale).alias("avg_neg_logp"),
        )
    )
    return scored
