"""Text analysis over the documents table (SURVEY.md §2.11 L3).

North-star LLM-pipeline operators (BASELINE.json mandate; absent from the
reference): token counting, quality scoring, language-ID heuristics,
document fingerprinting. Everything here is built-in expressions
(split/filter/regexp/md5) — no Python in the row path, so the same code
tokenizes a 100 TB corpus at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import QDEC
from ..io import load
from ..materialize import share
from ..registry import query

# Tiny English stopword list for the language-ID heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal — identical
    semantics in Spark and the DuckDB oracle."""
    return F.filter(F.split(text, " "), lambda x: x != "")


@query(
    "q_text_stats",
    oracle=f"""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
           AS BIGINT) AS total_tokens,
      CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
           AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("L3",),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, characters, token
    counts (whitespace tokenizer)."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text"))).cast("bigint")
    return (
        d.select("lang", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1)))
            .alias("avg_tokens"),
        )
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT
      doc_id,
      len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
      length(replace(text, ' ', '')) AS n_chars_nospace,
      CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) = 0
           THEN NULL
      ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / len(list_filter(string_split(text, ' '), x -> x <> ''))
        END AS avg_token_len,
      length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        AS n_digits,
      len(list_filter(string_split(text, ' '), x -> x <> '')) < 30
        AS is_short
    FROM documents
    """,
    tags=("L3", "quality"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (length / token shape / digit count)
    — the filter stage of a pre-training data pipeline."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    nospace = F.length(F.regexp_replace("text", " ", ""))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        nospace.cast("bigint").alias("n_chars_nospace"),
        # empty document: no tokens, no mean token length — NULL, not
        # an ANSI crash (flat_corpus profile, r13; dead on harness)
        F.when(n_tokens == 0, F.lit(None).cast("double"))
        .otherwise(nospace.cast("double") / n_tokens)
        .alias("avg_token_len"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
        .cast("bigint").alias("n_digits"),
        (n_tokens < 30).alias("is_short"),
    )


@query(
    "q_text_langid",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      len(list_filter(string_split(text, ' '),
          x -> x IN {tuple(EN_STOPWORDS)!r})) AS en_stop_hits,
      CAST(len(list_filter(string_split(text, ' '),
          x -> x IN {tuple(EN_STOPWORDS)!r})) AS DOUBLE)
        / greatest(len(list_filter(string_split(text, ' '), x -> x <> '')),
                   1) AS en_stop_ratio,
      CAST(len(list_filter(string_split(text, ' '),
          x -> x IN {tuple(EN_STOPWORDS)!r})) AS DOUBLE)
        / greatest(len(list_filter(string_split(text, ' '), x -> x <> '')),
                   1) > 0.12 AS pred_en
    FROM documents
    """,
    tags=("L3", "langid"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic: the n-gram/stopword family of
    cheap language classifiers, as pure column expressions."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(F.split(F.col("text"), " "),
                 lambda x: x.isin(*EN_STOPWORDS))
    ).cast("bigint")
    # empty document: stop_hits is provably 0 (an empty token is never a
    # stopword), so flooring the denominator at 1 yields ratio 0.0 and
    # pred_en FALSE — value-identical to the r13 CASE guard on every
    # input, but unconditional, so codegen subexpression elimination
    # shares ONE tokenize across the ratio's references where the CASE
    # re-ran split+filter per branch (SCALE.md r14 queue item: 0.36-0.41 s
    # CASE vs 0.23-0.28 s floored, warm min at sf0.1). Same rewrite as
    # the r14 GD-eval quality_features floor; per-KEY aggregate guards
    # keep lazy CASE, only per-ROW guards earn the floor.
    ratio = stop_hits.cast("double") / F.greatest(F.size(toks), F.lit(1))
    return d.select(
        "doc_id",
        "lang",
        stop_hits.alias("en_stop_hits"),
        ratio.alias("en_stop_ratio"),
        (ratio > 0.12).alias("pred_en"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT
      doc_id,
      md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))
        AS fingerprint,
      substr(md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))), 1, 8)
        AS fp_prefix
    FROM documents
    """,
    tags=("L3", "fingerprint"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint (md5 over alphanumeric-only lowercase
    text) — format-robust exact-dup key; the rolling-hash variant lives in
    llm/dedup.py."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fp_prefix"),
    )


# BPE-pretokenizer-style classes (word / number / other-symbol), the
# standard split BPE tokenizers apply before merges. Same regex dialect
# subset in Java (Spark) and RE2 (DuckDB).
TOKEN_WORD = "[A-Za-z]+"
TOKEN_NUM = "[0-9]+"
TOKEN_SYM = "[^A-Za-z0-9 ]"


@query(
    "q_text_tokens",
    oracle=f"""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(len(regexp_extract_all(text, '{TOKEN_WORD}')))
           AS BIGINT) AS n_word_tokens,
      CAST(SUM(len(regexp_extract_all(text, '{TOKEN_NUM}')))
           AS BIGINT) AS n_num_tokens,
      CAST(SUM(len(regexp_extract_all(text, '{TOKEN_SYM}')))
           AS BIGINT) AS n_sym_tokens,
      CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
           AS BIGINT) AS n_ws_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("L3", "tokens"),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-pretokenizer style: per language, counts of
    word / number / symbol tokens (the regex classes a BPE tokenizer
    splits on before merging) alongside the plain whitespace count. All
    regex work is codegen'd JVM — at 100 TB this runs at scan speed with
    partial aggregation; no Python touches a row."""
    d = load(spark, sf_dir, "documents")

    def n_matches(pat: str) -> Column:
        return F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))

    return (
        d.select(
            "lang",
            n_matches(TOKEN_WORD).cast("bigint").alias("w"),
            n_matches(TOKEN_NUM).cast("bigint").alias("n"),
            n_matches(TOKEN_SYM).cast("bigint").alias("s"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("ws"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_word_tokens"),
            F.sum("n").alias("n_num_tokens"),
            F.sum("s").alias("n_sym_tokens"),
            F.sum("ws").alias("n_ws_tokens"),
        )
    )


REPETITION_THRESHOLD = 0.25


@query(
    "q_text_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bgs
      FROM t
    )
    SELECT
      doc_id,
      len(toks) AS n_tokens,
      len(list_distinct(toks)) AS n_distinct_tokens,
      CASE WHEN len(toks) > 0 THEN
        1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      END AS dup_token_ratio,
      CASE WHEN len(toks) >= 2 THEN
        1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs)
      END AS dup_bigram_ratio,
      CASE WHEN len(toks) >= 2 THEN
        (1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs))
          > {REPETITION_THRESHOLD}
      END AS is_repetitive
    FROM b
    """,
    tags=("L3", "quality", "repetition"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/MassiveText repetition
    filters): per document, the fraction of duplicate tokens and
    duplicate bigrams — high values flag boilerplate/spam/generated
    loops that length filters miss. Distinct counting happens inside
    each row (``array_distinct`` on the token array), so the operator is
    embarrassingly parallel: no shuffle at all, scan speed at 100 TB."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    # zip_with over two slices, NOT transform(sequence)+element_at
    # (r15, guide §1.2 step 2): the index-based form paid a sequence
    # allocation plus two positional lookups per element and measured
    # 2.5 s per expression REFERENCE at sf0.1 (this expression is
    # inlined at every use), vs 0.29 s for the slice/zip form — same
    # (t[i], t[i+1]) pairs, same concat, bit-identical bigrams.
    n_m1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, n_m1), F.slice(toks, 2, n_m1),
            lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))
    n_bigrams = F.size(bigrams)
    dup_tok = F.when(
        n_tokens > 0,
        F.lit(1.0) - n_distinct.cast("double") / n_tokens)
    dup_bg = F.when(
        n_tokens >= 2,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double")
        / n_bigrams)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        dup_tok.alias("dup_token_ratio"),
        dup_bg.alias("dup_bigram_ratio"),
        (dup_bg > REPETITION_THRESHOLD).alias("is_repetitive"),
    )


NGRAM_TOP_K = 5


@query(
    "q_text_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT lang,
             unnest(list_transform(
               range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
      WHERE len(t) >= 2
    ), counted AS (
      SELECT lang, bigram, COUNT(*) AS n
      FROM grams GROUP BY lang, bigram
    ), ranked AS (
      SELECT lang, bigram, n,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
      FROM counted
    )
    SELECT lang, bigram, n, rnk
    FROM ranked WHERE rnk <= {NGRAM_TOP_K}
    """,
    tags=("L3", "ngrams"),
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency: top-5 bigrams per language — the
    vocabulary/phrase profile a tokenizer-training or contamination-check
    stage reads. Bigrams are generated per row with a higher-order
    transform (no join, no Python), counted with partial aggregation, and
    ranked with a deterministic (count desc, bigram) tiebreak. At 100 TB
    the count shuffle carries (lang, bigram) pairs — already aggregated
    map-side — and the final top-k window sees one partition per
    language, each pre-shrunk by the count aggregation."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # zip_with over two slices — the index-based transform(sequence)
    # form measured ~9x slower per reference (see q_text_repetition's
    # note); same (t[i], t[i+1]) pairs, bit-identical bigrams.
    n_m1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_m1), F.slice(toks, 2, n_m1),
        lambda a, b: F.concat_ws(" ", a, b))
    grams = (
        d.where(F.size(toks) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
    )
    counted = grams.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= NGRAM_TOP_K)
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf,
           COUNT(*) OVER (PARTITION BY token) AS df,
           CAST(tf * CAST(ln(CAST(n.n_docs AS DOUBLE)
                             / COUNT(*) OVER (PARTITION BY token))
                          AS DECIMAL(18,6)) AS DOUBLE) AS tf_idf
    FROM tf CROSS JOIN n
    """,
    tags=("L3", "tfidf"),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting over the corpus: per (doc, token) term
    frequency, document frequency, and tf·ln(N/df) — the weighting
    behind keyword extraction, near-dup shingle weighting, and
    quality-classifier features. One explode + one (doc, token) hash
    aggregation; df comes from a window over the *aggregated* tf
    relation (vocabulary-sized, not token-occurrence-sized), so the
    second shuffle carries one row per distinct (doc, token). The corpus
    row count joins in as a broadcast scalar. ``ln`` output is
    decimal-quantized (compat.py hazard 2) so the weight is bit-equal
    across engines."""
    from pyspark.sql import Window

    from ..compat import QDEC

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_c = F.count(F.lit(1)).over(Window.partitionBy("token"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("df")).cast(QDEC)
    return (
        tf.crossJoin(F.broadcast(n_docs))
        .withColumn("df", df_c)
        .select(
            "doc_id", "token", "tf", "df",
            (F.col("tf") * idf).cast("double").alias("tf_idf"),
        )
    )


@query(
    "q_text_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM tok GROUP BY doc_id, token
    ), w AS (
      SELECT doc_id, token, c,
             CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      FROM tf
    )
    SELECT doc_id,
           MAX(n) AS n_tokens,
           COUNT(*) AS n_unique_tokens,
           CAST(SUM(c * CAST(ln(CAST(n AS DOUBLE) / c) AS DECIMAL(18,6)))
                AS DOUBLE) / MAX(n) AS entropy_nats
    FROM w GROUP BY doc_id
    """,
    tags=("L3", "quality", "entropy"),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document — the information-density
    quality signal: H = (1/n)·Σ c·ln(n/c) in nats. Near-zero entropy
    means a degenerate/repetitive document (spam, boilerplate, keyword
    stuffing) that per-token repetition ratios can miss when the
    repetition is distributed.

    Scale shape: one token explode + one (doc, token) hash aggregation;
    the per-doc total rides a window over the AGGREGATED tf relation
    (vocabulary-sized per doc, not occurrence-sized) sharing the final
    groupBy's doc_id partitioning. ``ln`` outputs are decimal-quantized
    before the multiply/sum (compat.py hazard 2), so the float result is
    bit-equal across engines and partitionings."""
    from pyspark.sql import Window

    from ..compat import QDEC

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    term = F.col("c") * F.log(F.col("n").cast("double") / F.col("c")) \
        .cast(QDEC)
    return (
        tf.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_unique_tokens"),
            (F.sum(term).cast("double") / F.max("n")).alias("entropy_nats"),
        )
    )


@query(
    "q_text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ), uni AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT COUNT(*) AS t FROM tok
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * CAST(ln(CAST(c AS DOUBLE) / t)
                              AS DECIMAL(18,6))) AS DOUBLE)
             / SUM(tf) AS avg_logprob
    FROM tf JOIN uni USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("L3", "quality", "lm"),
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the CCNet-style perplexity filter,
    harness-sized): train a unigram language model ON THE CORPUS (token
    frequency / total tokens), then score every document by its mean
    token log-probability — rare-token-heavy documents (boilerplate,
    gibberish, wrong-language residue) score low and a percentile cut
    drops them. The standing corpus-quality stage between the heuristic
    scores (q_text_quality) and a real KenLM.

    Scale shape: one explode feeds BOTH the model (token-keyed count)
    and the per-doc tf relation (partial aggregation on each); scoring
    joins tf against the VOCABULARY-sized model relation — broadcast
    here, co-shuffled on token at 100 TB — never against raw token
    occurrences. ``ln`` output is decimal-quantized (compat.py hazard 2)
    so every score is bit-equal across engines."""
    from ..compat import QDEC

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    lp = F.log(F.col("c").cast("double") / F.col("t")).cast(QDEC)
    return (
        tf.join(F.broadcast(uni), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            (F.sum(F.col("tf") * lp).cast("double")
             / F.sum("tf")).alias("avg_logprob"),
        )
    )


# ---- Trigram-profile language ID (Cavnar–Trenkle shape) ------------------

LANGID_TOP_TRIGRAMS = 50   # profile size per language
_LANGID_MAXLEN = 600       # oracle-side series bound (docs ≤ 553 chars)


@query(
    "q_text_langid_trigram",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id, lang,
             substr(lower(text), CAST(g.i AS INTEGER), 3) AS trigram
      FROM documents, range(1, {_LANGID_MAXLEN}) g(i)
      WHERE g.i <= length(text) - 2
    ), profile AS (
      SELECT lang AS p_lang, trigram FROM (
        SELECT lang, trigram, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, trigram) AS rn
        FROM tri GROUP BY lang, trigram
      ) WHERE rn <= {LANGID_TOP_TRIGRAMS}
    ), doc_tri AS (
      SELECT DISTINCT doc_id, lang, trigram FROM tri
    ), overlap AS (
      SELECT d.doc_id, d.lang, p.p_lang, COUNT(*) AS n_overlap
      FROM doc_tri d JOIN profile p ON d.trigram = p.trigram
      GROUP BY d.doc_id, d.lang, p.p_lang
    )
    SELECT doc_id, lang,
           p_lang AS pred_lang,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           p_lang = lang AS correct
    FROM (
      SELECT doc_id, lang, p_lang, n_overlap,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY n_overlap DESC, p_lang) AS rn
      FROM overlap
    ) WHERE rn = 1
    """,
    tags=("L3", "langid"),
)
def q_text_langid_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM language ID (the Cavnar–Trenkle profile method, in-corpus):
    train a top-{LANGID_TOP_TRIGRAMS} character-trigram profile per
    language from the corpus itself, then classify each document by
    profile overlap of its distinct trigrams (argmax, lang-ascending
    tiebreak). The real n-gram heuristic the stopword-ratio screen
    (q_text_langid) approximates — trigram profiles work across
    languages with no word segmentation at all.

    Scale shape: training is a (lang, trigram) hash agg + a window over
    the tiny per-language count relation; the learned profile
    (|langs|×{LANGID_TOP_TRIGRAMS} rows) broadcasts into the scoring
    join, so the corpus-side relation shuffles (doc, lang, 3-char)
    tokens only and classification is one aggregate + one argmax
    window. Self-training on the classified corpus itself makes the
    whole pipeline closed over the harness tables (no external model),
    and every step is integer/string arithmetic — engine-exact.

    Honest fixture note: the harness corpus is synthetic and its lang
    labels do not track real character distributions, so self-train
    accuracy here is ~0.26 — the driver gate (correctly) checks the
    profile/score pipeline bit-for-bit, not classifier quality; on real
    multilingual text the same plan is the standard C-T classifier."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    # Overlapping trigrams via zip_with over three char-array slices
    # (r15, guide §1.2 step 2): substring(s, i, 3) with a non-literal
    # position re-seeks codepoints from the string head per call —
    # O(len²) per document; splitting to a char array once and zipping
    # three slices is the same trigram multiset (verified identical
    # in-session at sf0.1) at 3.0 -> 1.1 s for the explode pass.
    ch = F.split(lower, "")
    n_m2 = F.greatest(F.size(ch) - 2, F.lit(0))
    tri3 = F.zip_with(
        F.zip_with(F.slice(ch, 1, n_m2), F.slice(ch, 2, n_m2),
                   lambda a, b: F.concat(a, b)),
        F.slice(ch, 3, n_m2), lambda ab, c: F.concat(ab, c))
    tri = d.where(F.length("text") >= 3).select(
        "doc_id", "lang", F.explode(tri3).alias("trigram"))
    w_prof = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), "trigram")
    profile = (
        tri.groupBy("lang", "trigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .where(F.col("rn") <= LANGID_TOP_TRIGRAMS)
        .select(F.col("lang").alias("p_lang"), "trigram")
    )
    doc_tri = tri.distinct()
    overlap = (
        doc_tri.join(F.broadcast(profile), "trigram")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("n_overlap").desc(), "p_lang")
    return (
        overlap.withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang",
                F.col("p_lang").alias("pred_lang"),
                F.col("n_overlap").cast("bigint").alias("n_overlap"),
                (F.col("p_lang") == F.col("lang")).alias("correct"))
    )


VOCAB_TOP_K = 100


@query(
    "q_text_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), total AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts
    ), top AS (
      SELECT token, cnt FROM counts
      ORDER BY cnt DESC, token LIMIT {VOCAB_TOP_K}
    )
    SELECT token,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
             AS rank,
           CAST(CAST(SUM(cnt) OVER (
                  ORDER BY cnt DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS DOUBLE) / CAST(n_total AS DOUBLE)
             AS cum_share
    FROM top CROSS JOIN total
    """,
    tags=("L3", "vocab"),
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER VOCABULARY BUILD: the top-K tokens of the lowercased
    corpus by frequency, with rank and cumulative corpus-coverage share
    — the frequency table a BPE/WordPiece trainer starts from, and the
    coverage curve that picks the vocab size.

    Scale shape: explode → one (token) hash aggregation (map-side
    partials collapse repeats before the shuffle), then top-K selection
    via orderBy+limit — Spark's TakeOrderedAndProject, a per-partition
    heap + driver merge of K rows, never a global sort. The
    rank/coverage window runs over the K-row result only; the corpus
    token total joins in as a broadcast scalar. All counts are
    bigint-exact; the single int/int → double division is IEEE-identical
    across engines, so the share hash-matches with no quantization."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    # share: the vocab counts feed the corpus total AND the top-K
    # selection — without it the explode+aggregate runs twice.
    counts = share(tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            (F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, 0))
             .cast("double") / F.col("n_total").cast("double"))
            .alias("cum_share"),
        )
    )


# Bigram-LM CTE chain and per-doc scoring SELECT, shared VERBATIM by
# q_text_bigram_logprob and the perplexity-filter composition so the
# filter consumes exactly the audited LM text.
_BIGRAM_CTES = '''tl AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(l) AS token FROM tl
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tok
    ), bg AS (
      SELECT doc_id, u.prev AS prev, u.cur AS cur
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(l)),
                 i -> struct_pack(prev := l[i], cur := l[i + 1]))) AS u
        FROM tl WHERE len(l) >= 2)
    ), big AS (
      SELECT prev, cur, COUNT(*) AS c_big FROM bg GROUP BY prev, cur
    ), ctx AS (
      SELECT prev, CAST(SUM(c_big) AS BIGINT) AS c_ctx
      FROM big GROUP BY prev
    ), tf AS (
      SELECT doc_id, prev, cur, COUNT(*) AS tf
      FROM bg GROUP BY doc_id, prev, cur
    )'''

_BIGRAM_SCORE_SELECT = '''SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(tf.tf * CAST(ln(CAST(big.c_big + 1 AS DOUBLE)
                                    / (ctx.c_ctx + vocab.v))
                                 AS DECIMAL(18,6))) AS DOUBLE)
             AS total_logprob,
           CAST(SUM(tf.tf * CAST(ln(CAST(big.c_big + 1 AS DOUBLE)
                                    / (ctx.c_ctx + vocab.v))
                                 AS DECIMAL(18,6))) AS DOUBLE)
             / SUM(tf.tf) AS avg_logprob
    FROM tf
    JOIN big ON tf.prev = big.prev AND tf.cur = big.cur
    JOIN ctx ON tf.prev = ctx.prev
    CROSS JOIN vocab
    GROUP BY tf.doc_id'''


@query(
    "q_text_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_CTES}
    {_BIGRAM_SCORE_SELECT}
    """,
    tags=("L3", "quality", "lm"),
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-LM QUALITY SCORE (the order-2 step from
    q_text_unigram_logprob toward the CCNet/KenLM perplexity filter):
    per document, the mean log P(wᵢ | wᵢ₋₁) under an add-one-smoothed
    bigram model trained on the corpus itself — P = (c(prev,cur)+1) /
    (c(prev)+V), with c(prev) the bigram-context count and V the corpus
    vocabulary size. Fluent text scores high; shuffled or
    keyword-stuffed text that unigram frequency cannot distinguish
    scores low, because bigram order is what it breaks.

    Scale shape: bigrams come from the token ARRAY in place (a row-local
    zip of adjacent positions — no positional self-join); the model is
    two hash aggregations (bigram counts, then context counts summed
    FROM the bigram relation, never a second corpus pass); V is a
    broadcast scalar; the per-doc score joins model rows back on the
    (vocab²-bounded) bigram key. ``ln`` is decimal-quantized before the
    weighted sum (compat.py hazard 2) so the double is engine-exact."""
    from ..compat import QDEC

    d = load(spark, sf_dir, "documents")
    tl = d.select("doc_id", tokens(F.col("text")).alias("l"))
    tok = tl.select("doc_id", F.explode("l").alias("token"))
    vocab = tok.agg(
        F.count_distinct("token").cast("bigint").alias("v"))
    bg = (
        tl.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(F.expr(
                "transform(sequence(1, size(l) - 1), "
                "i -> struct(l[i - 1] AS prev, l[i] AS cur))")).alias("u"))
        .select("doc_id", "u.prev", "u.cur")
    )
    # share: the bigram model feeds the context sums AND the score
    # join (two consumers of the corpus-wide aggregation).
    big = share(bg.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c_big")))
    ctx = big.groupBy("prev").agg(
        F.sum("c_big").cast("bigint").alias("c_ctx"))
    tf = bg.groupBy("doc_id", "prev", "cur").agg(
        F.count(F.lit(1)).alias("tf"))
    term = F.col("tf") * F.log(
        (F.col("c_big") + 1).cast("double")
        / (F.col("c_ctx") + F.col("v"))).cast(QDEC)
    totals = (
        tf.join(big, ["prev", "cur"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            # exact 6-dp decimal sum -> double: a value on the decimal
            # grid, so it survives double<->decimal round trips in both
            # engines (unlike the avg QUOTIENT below, which lands on
            # 6-dp midpoints and must never be re-quantized — the
            # perplexity filter consumes THESE sufficient statistics,
            # not the quotient, for exactly that reason)
            F.sum(term).cast("double").alias("total_logprob"),
        )
    )
    return totals.select(
        "doc_id", "n_bigrams", "total_logprob",
        (F.col("total_logprob") / F.col("n_bigrams")).alias("avg_logprob"),
    )


KEYWORDS_TOP_K = 3


@query(
    "q_text_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tfidf AS (
      SELECT doc_id, token,
             CAST(tf * CAST(ln(CAST(n.n_docs AS DOUBLE)
                               / COUNT(*) OVER (PARTITION BY token))
                            AS DECIMAL(18,6)) AS DOUBLE) AS tf_idf
      FROM tf CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, token, tf_idf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY tf_idf DESC, token) AS rnk
      FROM tfidf
    )
    SELECT doc_id, token, tf_idf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {KEYWORDS_TOP_K}
    """,
    tags=("L3", "keywords"),
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD EXTRACTION: the top-{KEYWORDS_TOP_K} TF-IDF terms per
    document with a total-order tiebreak — the per-doc topical summary
    feeding tagging, routing, and near-dup explanation UIs; a direct
    consumer-composition of q_text_tfidf's weight relation.

    Scale shape: everything q_text_tfidf already does (one explode, one
    (doc, token) hash agg, vocabulary-sized df window) plus ONE
    row_number window partitioned by doc over the per-doc-vocabulary
    relation — and that window reuses the (doc_id)-compatible hash
    partitioning of the tf aggregation. `ln` decimal-quantized as
    always."""
    from pyspark.sql import Window

    tfidf = q_text_tfidf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf_idf").desc(), "token")
    return (
        tfidf.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KEYWORDS_TOP_K)
        .select("doc_id", "token", "tf_idf", "rnk")
    )


PMI_MIN_DF = 5


@query(
    "q_text_pmi",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, u.token FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS token
        FROM documents) u
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM dt GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             COUNT(*) AS df_ab
      FROM dt a JOIN dt b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    )
    SELECT p.token_a, p.token_b,
           CAST(p.df_ab AS BIGINT) AS df_ab,
           CAST(da.df AS BIGINT) AS df_a,
           CAST(db.df AS BIGINT) AS df_b,
           CAST(CAST(ln(CAST(p.df_ab AS DOUBLE) * n.n_docs
                        / (da.df * db.df))
                     AS DECIMAL(18,6)) AS DOUBLE) AS pmi
    FROM pairs p
    JOIN dfreq da ON p.token_a = da.token
    JOIN dfreq db ON p.token_b = db.token
    CROSS JOIN n
    WHERE p.df_ab >= {PMI_MIN_DF}
    """,
    tags=("L3", "pmi", "collocation"),
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTWISE MUTUAL INFORMATION over document co-occurrence:
    PMI(a,b) = ln(P(a,b)/(P(a)P(b))) at document granularity — the
    collocation/association signal behind phrase mining, tokenizer
    merge candidates, and topic coherence scores. Support-filtered at
    df_ab ≥ {PMI_MIN_DF} (PMI is noise below small supports).

    Scale shape: the stream collapses to DISTINCT (doc, token) first;
    the pair join is DOC-keyed over that deduplicated relation (pair
    volume Σ per-doc-vocab², bounded by doc length, never corpus²);
    per-token document frequencies join back via broadcast-sized vocab
    relations, and the corpus size is one broadcast scalar. ``ln``
    decimal-quantized (compat hazard 2)."""
    d = load(spark, sf_dir, "documents")
    # dt feeds the df counts AND both pair-join sides — share the
    # distinct (doc, token) relation so the explode+distinct runs once.
    dt = share(d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct())
    dfreq = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    a = dt.select("doc_id", F.col("token").alias("token_a"))
    b = dt.select("doc_id", F.col("token").alias("token_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .where(F.col("df_ab") >= PMI_MIN_DF)
    )
    da = dfreq.select(F.col("token").alias("token_a"),
                      F.col("df").alias("df_a"))
    db = dfreq.select(F.col("token").alias("token_b"),
                      F.col("df").alias("df_b"))
    pmi = F.log(
        F.col("df_ab").cast("double") * F.col("n_docs")
        / (F.col("df_a") * F.col("df_b"))).cast("decimal(18,6)")
    return (
        pairs.join(F.broadcast(da), "token_a")
        .join(F.broadcast(db), "token_b")
        .crossJoin(F.broadcast(n))
        .select(
            "token_a", "token_b",
            F.col("df_ab").cast("bigint").alias("df_ab"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            pmi.cast("double").alias("pmi"),
        )
    )


@query(
    "q_text_perplexity_filter",
    oracle=f"""
    WITH {_BIGRAM_CTES}, scores AS (
      {_BIGRAM_SCORE_SELECT}
    ), thr AS (
      SELECT CAST(SUM(CAST(total_logprob AS DECIMAL(18,6))) AS DOUBLE)
               / SUM(n_bigrams) AS thr
      FROM scores
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN s.total_logprob / s.n_bigrams
                         >= (SELECT thr FROM thr)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.total_logprob / s.n_bigrams
                         >= (SELECT thr FROM thr)
                    THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
           CAST(SUM(CAST(s.total_logprob AS DECIMAL(18,6))) AS DOUBLE)
             / SUM(s.n_bigrams) AS mean_logprob
    FROM scores s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
    """,
    tags=("L3", "L6", "quality", "lm", "pipeline"),
)
def q_text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERPLEXITY FILTERING (the CCNet/KenLM curation stage): score
    every document with the corpus-trained bigram LM
    (q_text_bigram_logprob's audited model, consumed verbatim), keep
    documents whose mean log-probability clears the corpus mean — low
    scorers are boilerplate, shuffled text, or keyword stuffing — and
    report keep/drop + mean fluency per source. The LM twin of
    q_pipeline_quality_model's logistic gate: no labels at all, the
    corpus is its own model.

    Scale shape: everything of q_text_bigram_logprob's (bigram model =
    two hash aggs, V broadcast), plus one tiny threshold aggregate
    broadcast back and a per-source report; the score relation is
    shared because the threshold and the report both consume it.
    Documents with <2 tokens have no bigram score and fall out of the
    scored population on both engines alike."""
    scores = share(q_text_bigram_logprob(spark, sf_dir)
                   .select("doc_id", "n_bigrams", "total_logprob"))
    # Threshold + per-source means are token-weighted and computed from
    # the SUFFICIENT STATISTICS (exact-decimal total, bigram count) —
    # re-quantizing the avg QUOTIENT diverges: total/n lands exactly on
    # 6-dp midpoints (e.g. -6.519047/2), where Spark's double->decimal
    # goes through the shortest decimal repr (sees the midpoint string,
    # rounds HALF_UP) while DuckDB rounds the true binary value
    # (measured: 3/20 sources off by 4e-8). total_logprob is an exact
    # 6-dp GRID value, so its round trip is unambiguous in both.
    thr = scores.agg(
        (F.sum(F.col("total_logprob").cast(QDEC)).cast("double")
         / F.sum("n_bigrams")).alias("thr"))
    d = load(spark, sf_dir, "documents").select("doc_id", "source",
                                                "n_chars")
    keep = (F.col("total_logprob") / F.col("n_bigrams")) >= F.col("thr")
    return (
        scores.join(d, "doc_id")
        .crossJoin(F.broadcast(thr))  # 1-row threshold relation
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("bigint").alias("kept_chars"),
            (F.sum(F.col("total_logprob").cast(QDEC)).cast("double")
             / F.sum("n_bigrams")).alias("mean_logprob"),
        )
    )


ZIPF_TOP_K = 200  # head-of-distribution window for the power-law fit


@query(
    "q_text_zipf",
    oracle=f"""
    WITH counts AS (
      SELECT token, COUNT(*) AS freq
      FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS token
        FROM documents)
      GROUP BY token
    ), ranked AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk
      FROM counts
    ), pts AS (
      SELECT CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,6)) AS x,
             CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,6)) AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP_K}
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
                     AS DECIMAL(20,6)) AS DOUBLE) AS zipf_slope,
           CAST(CAST((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n AS DECIMAL(20,6)) AS DOUBLE) AS intercept,
           CAST(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                     AS DECIMAL(20,6)) AS DOUBLE) AS r2
    FROM s
    """,
    tags=("L3", "audit", "stats"),
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW AUDIT: fit log(freq) ~ log(rank) over the top
    {ZIPF_TOP_K} vocabulary terms — natural language sits near slope -1
    with high R²; template/boilerplate corpora flatten the head and
    machine-generated spam breaks the linearity, so (slope, r2) is a
    one-row corpus-health fingerprint used to compare ingest feeds
    against a reference crawl.

    Scale shape: one token hash aggregation; the head selection is
    orderBy+limit = TakeOrderedAndProject (top-K per partition then
    merge — never a global sort of the vocabulary); the fit is
    q_agg_ols's sufficient-statistic recipe over {ZIPF_TOP_K} rows with
    ln 6-dp-quantized before the exact-decimal products (compat
    hazard 2)."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "token").limit(ZIPF_TOP_K)
    wr = Window.orderBy(F.desc("freq"), "token")
    pts = (
        top.withColumn("rnk", F.row_number().over(wr))
        .select(
            F.log(F.col("rnk").cast("double")).cast(QDEC).alias("x"),
            F.log(F.col("freq").cast("double")).cast(QDEC).alias("y"))
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)"))
        .cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)"))
        .cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
        .cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_points"),
        slope.cast("decimal(20,6)").cast("double").alias("zipf_slope"),
        ((sy - slope * sx) / n).cast("decimal(20,6)").cast("double")
        .alias("intercept"),
        ((n * sxy - sx * sy) * (n * sxy - sx * sy)
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
        .cast("decimal(20,6)").cast("double").alias("r2"),
    )


# ---- Heavy hitters: Misra-Gries candidates + exact verify ----------------

MG_CAPACITY = 4096   # counters per partition summary
HH_TOP_K = 20


def _misra_gries_partition(batches, capacity=MG_CAPACITY):
    """Per-partition Misra-Gries summary over a stream of words.

    Classic guarantee: any word whose count in this partition exceeds
    n_partition/capacity survives the summary, so the union of
    partition summaries is a SUPERSET of every global heavy hitter —
    which is all the exact recount downstream needs. Arrow-batched
    (the sanctioned Python shape); the state is one dict of at most
    ``capacity`` counters, independent of partition size.
    """
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for w in pdf["word"]:
            if w in counters:
                counters[w] += 1
            elif len(counters) < capacity:
                counters[w] = 1
            else:
                dead = [k for k in counters if counters[k] == 1]
                for k in dead:
                    del counters[k]
                for k in counters:
                    counters[k] -= 1
    if counters:
        yield pd.DataFrame({"word": list(counters)})


@query(
    "q_text_heavyhitters",
    oracle=f"""
    SELECT u.word AS word, COUNT(*) AS n_occurrences
    FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
    WHERE u.word <> ''
    GROUP BY u.word
    ORDER BY n_occurrences DESC, word
    LIMIT {HH_TOP_K}
    """,
    tags=("L3", "heavy-hitters", "pandas-udf"),
)
def q_text_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus top-{HH_TOP_K} words, computed the heavy-hitter way:
    per-partition Misra-Gries summaries (mapInPandas, bounded state, NO
    shuffle of the token stream) nominate a candidate superset; a
    broadcast semi-join then recounts ONLY candidates exactly, and the
    top-k comes from that candidate-sized aggregate. The full
    vocabulary never shuffles — at 100 TB the first pass moves zero
    rows and the second pass's aggregate carries ≤ partitions ×
    {MG_CAPACITY} words. The Misra-Gries bound (count > n_part/capacity
    ⇒ survives) makes the candidate set a provable superset of every
    global heavy hitter, so the result is EXACT and partition-layout-
    independent — approximate machinery, exact answer, hash-gated
    against the oracle's full group-by. This is also the repo's
    sanctioned demonstration of the mapInPandas slow path on a real
    algorithm (state that SQL cannot express), kept off the corpus-
    sized hot path by design.

    Exactness PRECONDITION (pigeonhole over the partition summaries):
    the superset property covers every word with global count
    > N/{MG_CAPACITY}, so the ranking — ties at the k-th rank included
    — is provably exact iff the k-th heaviest word clears that
    threshold. Zipf-shaped corpora clear it by orders of magnitude; a
    pathologically flat or tie-heavy distribution (>~{MG_CAPACITY}
    comparably-frequent words) would not, and would need either a
    larger capacity or the exact full group-by.
    ``heavyhitters_guard`` computes the margin as one bounded
    DataFrame, and tests/test_plans.py asserts it holds on the harness
    corpus at every checked sf — the precondition is VERIFIED on the
    shipped data, not assumed, without spending a second corpus pass
    per production run."""
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    cands = (
        words.mapInPandas(_misra_gries_partition,
                          T.StructType([T.StructField("word",
                                                      T.StringType())]))
        .distinct()
    )
    return (
        words.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(HH_TOP_K)
    )


def heavyhitters_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of q_text_heavyhitters' exactness precondition:
    ``kth_count × {MG_CAPACITY} > n_tokens`` (n_tokens counted as an
    upper bound — split() empties included — which only STRENGTHENS
    the check). ``exact_guaranteed`` TRUE means every word tied with
    or above the k-th rank provably survives the Misra-Gries union, so
    the fast path's ranking is exact on this corpus. Run it as the
    periodic health job next to the query at scale."""
    exact_topk = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(HH_TOP_K)
    )
    kth = exact_topk.agg(
        F.min("n_occurrences").alias("kth_count"),
        F.count(F.lit(1)).alias("k_found"))
    n_tok = load(spark, sf_dir, "documents").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    return kth.crossJoin(n_tok).select(
        "kth_count", "k_found", "n_tokens",
        ((F.col("kth_count") * MG_CAPACITY > F.col("n_tokens"))
         & (F.col("k_found") == HH_TOP_K)).alias("exact_guaranteed"),
    )


# ---- Inverted-index conjunctive search -----------------------------------

SEARCH_TERM_A, SEARCH_TERM_B = "window", "customer"


@query(
    "q_text_search_and",
    oracle=f"""
    WITH postings AS (
      SELECT DISTINCT doc_id, u.word AS term
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word IN ('{SEARCH_TERM_A}', '{SEARCH_TERM_B}')
    )
    SELECT a.doc_id
    FROM postings a JOIN postings b ON a.doc_id = b.doc_id
    WHERE a.term = '{SEARCH_TERM_A}' AND b.term = '{SEARCH_TERM_B}'
    """,
    tags=("L3", "search", "inverted-index"),
)
def q_text_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONJUNCTIVE TERM SEARCH over the inverted posting relation:
    docs containing BOTH probe terms, answered by intersecting the two
    terms' postings — the search-engine AND primitive in its
    distributed form (posting relations joined on doc_id, each side
    pre-filtered to its term) rather than the serving form (sorted
    posting arrays merged pointer-wise), because at corpus scale the
    posting RELATION is what exists; the array form is what an index
    server materializes from it per shard. Scale shape: the explode is
    term-filtered at the scan (predicate pushes into the token
    explode's input), DISTINCT collapses within-doc repeats before the
    join, and the join keys on doc_id with both sides tiny fractions
    of the corpus. The oracle runs the same logic from raw text —
    equality proves the index answers match scanning."""
    docs = load(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id",
                    F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin(SEARCH_TERM_A, SEARCH_TERM_B))
        .distinct()
    )
    a = postings.where(F.col("term") == SEARCH_TERM_A).select("doc_id")
    b = postings.where(F.col("term") == SEARCH_TERM_B).select("doc_id")
    return a.join(b, "doc_id").select("doc_id")


# ---- Temporal vocabulary drift (log-odds with prior) ---------------------

DRIFT_TOP = 15
DRIFT_ALPHA = 1  # Dirichlet pseudo-count


@query(
    "q_text_vocab_drift",
    oracle=f"""
    WITH w AS (
      SELECT doc_id % 2 AS half, u.word AS term
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    ), cnt AS (
      SELECT term,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
      FROM w GROUP BY term
    ), tot AS (
      SELECT SUM(a) AS ta, SUM(b) AS tb, COUNT(*) AS v FROM cnt
    ), z AS (
      SELECT term, CAST(a AS BIGINT) AS n_a, CAST(b AS BIGINT) AS n_b,
             (CAST(CAST(ln((a + {DRIFT_ALPHA})
                  / (ta + v * {DRIFT_ALPHA} - a - {DRIFT_ALPHA}))
                  AS DECIMAL(18,6)) AS DOUBLE)
              - CAST(CAST(ln((b + {DRIFT_ALPHA})
                  / (tb + v * {DRIFT_ALPHA} - b - {DRIFT_ALPHA}))
                  AS DECIMAL(18,6)) AS DOUBLE))
             / sqrt(1.0 / (a + {DRIFT_ALPHA}) + 1.0 / (b + {DRIFT_ALPHA}))
               AS zscore
      FROM cnt, tot
    )
    SELECT term, n_a, n_b, zscore
    FROM z
    ORDER BY abs(zscore) DESC, term
    LIMIT {DRIFT_TOP}
    """,
    tags=("L3", "drift", "vocabulary"),
)
def q_text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY DRIFT between two corpus slices (doc_id parity stands
    in for time periods): per-term log-odds-ratio with a Dirichlet
    prior, z-scored by its estimated variance — the "fightin' words"
    screen that surfaces which terms a new crawl/period over- or
    under-represents, where raw frequency deltas just rank common
    words. PSI (q_quality_psi) answers "did the DISTRIBUTION move";
    this answers "WHICH terms moved, significantly". Shape: one corpus
    explode → one term-keyed aggregate; totals are a broadcast 1-row
    relation; top-|z| via TakeOrdered, never a vocab sort. ln is
    6-dp-quantized before the subtraction (compat rule 2); everything
    else is IEEE on integers."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("half"),
        F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    cnt = w.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b"))
    tot = cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"),
                  F.count(F.lit(1)).alias("v"))
    al = DRIFT_ALPHA

    def lnq(x):
        return F.log(x).cast("decimal(18,6)").cast("double")

    a, b = F.col("a"), F.col("b")
    ta, tb, v = F.col("ta"), F.col("tb"), F.col("v")
    delta = (lnq((a + al) / (ta + v * al - a - al))
             - lnq((b + al) / (tb + v * al - b - al)))
    var = 1.0 / (a + al) + 1.0 / (b + al)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select("term", a.cast("bigint").alias("n_a"),
                b.cast("bigint").alias("n_b"),
                (delta / F.sqrt(var)).alias("zscore"))
        .orderBy(F.abs(F.col("zscore")).desc(), "term")
        .limit(DRIFT_TOP)
    )


# ---- Novelty audit: first-seen shingle fraction per document -------------


@query(
    "q_text_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, u.word AS shingle
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    ), first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc
      FROM sh GROUP BY shingle
    ), per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM sh s JOIN first_seen f ON s.shingle = f.shingle
      GROUP BY s.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_novel) AS BIGINT) AS novel_shingles,
           CAST(SUM(p.n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(p.n_novel) AS DOUBLE) / SUM(p.n_shingles)
             AS novelty_rate
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source
    """,
    tags=("L3", "novelty", "ingest-monitoring"),
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOVELTY AUDIT: per source, the fraction of distinct tokens each
    document contributes that NO earlier document (by arrival id) has
    ever used — the freshness signal whose collapse means the crawler
    is re-walking known content (and whose inverse tracks how fast the
    corpus saturates a domain's vocabulary). First-seen attribution is
    one min-aggregate over the (token → doc) relation — the shuffle
    carries tokens and ids, never text; per-doc novelty is a second
    id-keyed aggregate; the rate division is IEEE-from-integers. The
    same shape runs at 100 TB with the min-aggregate as the only
    vocabulary-sized state — and incrementally, the first_seen
    relation IS the persistent index a nightly ingest folds into
    (q_pipeline_incremental_dedup's discipline, at token grain)."""
    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("shingle")
    ).where(F.col("shingle") != "").distinct()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                   .otherwise(0)).alias("n_novel"))
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("n_novel").cast("bigint").alias("novel_shingles"),
             F.sum("n_shingles").cast("bigint").alias("total_shingles"),
             (F.sum("n_novel").cast("double") / F.sum("n_shingles"))
             .alias("novelty_rate"))
    )


# ---- Language-ID confusion matrix ----------------------------------------


@query(
    "q_text_lang_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN {tuple(EN_STOPWORDS)!r})) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '),
                              x -> x <> '')), 1)
               > 0.12 AS pred_en
      FROM documents
    )
    SELECT lang,
           CAST(SUM(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_en,
           CAST(SUM(CASE WHEN NOT pred_en THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_other,
           CAST(SUM(CASE WHEN pred_en THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS en_rate
    FROM pred
    GROUP BY lang
    """,
    tags=("L3", "langid", "ml-eval"),
)
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID CONFUSION: the stopword-ratio classifier's verdicts
    broken down per METADATA language — the per-class error view
    (which languages does the cheap gate mistake for English?) that
    q_ml_eval's single-threshold global matrix can't show and that
    decides when to escalate a language to the trigram profile
    classifier (q_text_langid_trigram). One scan, a langs-sized
    aggregate; rates are IEEE-from-integers."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(F.split(F.col("text"), " "),
                 lambda x: x.isin(*EN_STOPWORDS)))
    # greatest(ntok, 1) floor, not CASE: empty doc forces stop_hits to
    # 0, so ratio 0 > 0.12 is FALSE exactly like the old guard, and the
    # unconditional form lets codegen share one tokenize (r15 rewrite,
    # same evidence as q_text_langid)
    pred = (stop_hits.cast("double")
            / F.greatest(F.size(toks), F.lit(1))) > 0.12
    return (
        d.select("lang", pred.alias("pred_en"))
        .groupBy("lang")
        .agg(F.sum(F.when(F.col("pred_en"), 1).otherwise(0))
             .cast("bigint").alias("n_pred_en"),
             F.sum(F.when(~F.col("pred_en"), 1).otherwise(0))
             .cast("bigint").alias("n_pred_other"),
             (F.sum(F.when(F.col("pred_en"), 1).otherwise(0))
              .cast("double") / F.count(F.lit(1))).alias("en_rate"))
    )


# ---- Source diversity (language-mix entropy per feed) --------------------


@query(
    "q_text_source_diversity",
    oracle="""
    WITH cnt AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(n) AS t FROM cnt GROUP BY source
    ), terms AS (
      SELECT c.source,
             CAST(CAST(-(CAST(c.n AS DOUBLE) / t.t)
                       * ln(CAST(c.n AS DOUBLE) / t.t)
                       AS DECIMAL(18,6)) AS DOUBLE) AS term
      FROM cnt c JOIN tot t ON c.source = t.source
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(MAX(t.t) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
             AS lang_entropy
    FROM terms s JOIN tot t ON s.source = t.source
    GROUP BY s.source
    """,
    tags=("L3", "diversity", "entropy"),
)
def q_text_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE DIVERSITY: Shannon entropy of each feed's language mix —
    the one-number answer to "is this source monolingual or mixed",
    read next to the mixture planner (a high-entropy feed resists
    per-language budget targets; a zero-entropy one IS a language
    bucket). Per-(source, lang) counts from one aggregate; each
    -p·ln(p) term is 6-dp-quantized BEFORE the per-source sum (compat
    rule 2: ln drifts, and the SUM of quantized terms must itself be
    order-insensitive, so terms re-quantize into an exact-decimal
    sum)."""
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").alias("t"))
    p = F.col("n").cast("double") / F.col("t")
    term = (-p * F.log(p)).cast("decimal(18,6)").cast("double")
    return (
        cnt.join(tot, "source")
        .select("source", "t", term.alias("term"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_langs"),
             F.max("t").cast("bigint").alias("n_docs"),
             F.sum(F.col("term").cast("decimal(18,6)")).cast("double")
             .alias("lang_entropy"))
    )


@query(
    "q_text_hapax",
    oracle="""
    WITH w AS (
      SELECT source, u.word AS word
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    ), vocab AS (
      SELECT source, word, COUNT(*) AS n
      FROM w GROUP BY source, word
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_rate,
           CAST(COUNT(*) AS DOUBLE) / SUM(n) AS type_token_ratio
    FROM vocab
    GROUP BY source
    """,
    tags=("L3", "vocabulary", "hapax"),
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY RICHNESS per source: hapax-legomena rate (share of
    once-used words) and type-token ratio — the lexical-diversity pair
    that separates generative/natural feeds (hapax-heavy) from
    template mills (tiny vocabularies ground flat), read as the
    lexical complement to the Zipf-slope audit and the novelty curve.
    One corpus explode → per-(source, word) counts → a sources-sized
    summary; shuffles carry words and counts; ratios are
    IEEE-from-integers."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select("source",
                 F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        vocab.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
             F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
             .cast("bigint").alias("n_hapax"),
             F.sum("n").cast("bigint").alias("n_tokens"),
             (F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
              .cast("double") / F.count(F.lit(1))).alias("hapax_rate"),
             (F.count(F.lit(1)).cast("double") / F.sum("n"))
             .alias("type_token_ratio"))
    )


# ---- BM25 ranked retrieval (L3r) ------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


@query(
    "q_text_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.word AS term
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), corpus AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks
      WHERE term IN ('{SEARCH_TERM_A}', '{SEARCH_TERM_B}')
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             CAST(CAST(ln(1.0 + (corpus.n_docs - df.df + 0.5)
                                / (df.df + 0.5)) AS DECIMAL(18,6))
                  AS DOUBLE)
             * (tf.tf * (CAST({BM25_K1} AS DOUBLE) + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * dl.dl / corpus.avgdl)) AS s
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN df ON tf.term = df.term
      CROSS JOIN corpus
    )
    SELECT doc_id,
           CAST(SUM(CAST(s AS DECIMAL(20,6))) AS DOUBLE) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    tags=("L3", "search", "bm25"),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OKAPI BM25 RANKED RETRIEVAL: top-k documents for a two-term query,
    scored with the standard saturating-tf / length-normalized formula
    (k1=1.2, b=0.75, the +1 idf variant that keeps scores positive when a
    term appears in most documents). This is the ranking layer above
    q_text_search_and's boolean AND — the relevance primitive of every
    lexical retrieval stack and the usual first-stage ranker in front of
    embedding rerankers.

    Scale shape: the corpus is tokenized ONCE; document lengths and the
    global (n_docs, avgdl) pair fall out of the same posting relation;
    per-term tf is computed only for the query terms (the IN filter
    pushes below the tf aggregate, so shuffle volume is query-term
    postings, not the corpus); df and the corpus stats are 1-to-2-row
    broadcast relations; top-k is TakeOrdered, never a global sort.
    Determinism: idf passes through ln so it is 6-dp-quantized (compat
    rule 2); everything else is integer-derived IEEE add/mul/div
    (correctly rounded, engine-identical); the per-doc sum over the <=2
    term partials goes through the exact-decimal dsum path.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    tf = (
        toks.where(F.col("term").isin(SEARCH_TERM_A, SEARCH_TERM_B))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = (
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
              / (F.col("df") + 0.5))
        .cast(QDEC).cast("double")
    )
    denom = (F.col("tf") + BM25_K1 * (1.0 - BM25_B
             + BM25_B * F.col("dl") / F.col("avgdl")))
    s = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", s.alias("s"))
    )
    from ..compat import dsum
    return (
        scored.groupBy("doc_id").agg(dsum("s", "bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP)
    )


# ---- Gopher-style quality-rule gate (L3q) ---------------------------------

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 1000
GOPHER_WL_MIN = 3.0
GOPHER_WL_MAX = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_DIGIT_RATIO = 0.1


def _gopher_stop_hits_sql() -> str:
    return " + ".join(
        f"CASE WHEN list_contains(list_filter(string_split(text, ' '), "
        f"x -> x <> ''), '{w}') THEN 1 ELSE 0 END"
        for w in EN_STOPWORDS)


@query(
    "q_text_gopher_rules",
    oracle=f"""
    WITH feats AS (
      SELECT len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tokens,
             length(replace(text, ' ', '')) AS nospace,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digits,
             {_gopher_stop_hits_sql()} AS stop_hits
      FROM documents
    ),
    flags AS (
      SELECT
        CASE WHEN n_tokens < {GOPHER_MIN_WORDS} THEN 1 ELSE 0 END AS f1,
        CASE WHEN n_tokens > {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END AS f2,
        CASE WHEN n_tokens = 0
                  OR CAST(nospace AS DOUBLE) / n_tokens
                     < CAST({GOPHER_WL_MIN} AS DOUBLE)
                  OR CAST(nospace AS DOUBLE) / n_tokens
                     > CAST({GOPHER_WL_MAX} AS DOUBLE)
             THEN 1 ELSE 0 END AS f3,
        CASE WHEN stop_hits < {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END
          AS f4,
        CASE WHEN nospace = 0
                  OR CAST(n_digits AS DOUBLE) / nospace
                     > CAST({GOPHER_MAX_DIGIT_RATIO} AS DOUBLE)
             THEN 1 ELSE 0 END AS f5
      FROM feats
    ),
    agg AS (
      SELECT COUNT(*) AS n_docs,
             SUM(f1) AS c1, SUM(f2) AS c2, SUM(f3) AS c3,
             SUM(f4) AS c4, SUM(f5) AS c5,
             SUM(CASE WHEN f1 + f2 + f3 + f4 + f5 = 0 THEN 1 ELSE 0 END)
               AS n_pass
      FROM flags
    )
    SELECT 'word_count_low' AS rule, CAST(c1 AS BIGINT) AS n_fail,
           CAST(n_docs AS BIGINT) AS n_docs FROM agg
    UNION ALL SELECT 'word_count_high', CAST(c2 AS BIGINT),
           CAST(n_docs AS BIGINT) FROM agg
    UNION ALL SELECT 'mean_word_length', CAST(c3 AS BIGINT),
           CAST(n_docs AS BIGINT) FROM agg
    UNION ALL SELECT 'stopword_floor', CAST(c4 AS BIGINT),
           CAST(n_docs AS BIGINT) FROM agg
    UNION ALL SELECT 'digit_ratio', CAST(c5 AS BIGINT),
           CAST(n_docs AS BIGINT) FROM agg
    UNION ALL SELECT 'all_rules_pass', CAST(n_docs - n_pass AS BIGINT),
           CAST(n_docs AS BIGINT) FROM agg
    """,
    tags=("L3q", "quality-rules", "gopher"),
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE RULE GATE: the composite hand-tuned quality filter
    every pre-training corpus passes through (word-count window, mean
    word length window, minimum distinct-stopword floor, digit-ratio
    cap — the Rae et al. 2021 rule family), reported as one row per
    rule (rule, n_fail, n_docs) plus the all-rules pass line an
    ingestion gate alerts on. Complements q_text_quality (raw signals,
    no policy) and q_pipeline_quality_model (learned filter) with the
    RULE-BASED member of the filter family.

    All five rules fold into ONE conditional-aggregation scan (adding a
    rule is free — the q_quality_audit posture); the per-rule rows
    explode from the single 1-row aggregate inside the plan. Integer
    counts end to end; the two ratio thresholds compare IEEE doubles
    built from integer counts, identical on both engines."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    nospace = F.length(F.regexp_replace("text", " ", ""))
    n_digits = (F.length("text")
                - F.length(F.regexp_replace("text", "[0-9]", "")))
    stop_hits = None
    for w in EN_STOPWORDS:
        term = F.when(F.array_contains(toks, w), 1).otherwise(0)
        stop_hits = term if stop_hits is None else stop_hits + term
    # Spark's OR does not short-circuit ANSI errors in the other
    # operand: the (n_tokens == 0) | (wl < ...) guards below still
    # evaluated the division on empty docs (flat_corpus profile, r13),
    # so the ratios carry their own lazy CASE guards
    wl = F.when(n_tokens == 0, F.lit(None).cast("double")) \
        .otherwise(nospace.cast("double") / n_tokens)
    dr = F.when(nospace == 0, F.lit(None).cast("double")) \
        .otherwise(n_digits.cast("double") / nospace)
    f1 = F.when(n_tokens < GOPHER_MIN_WORDS, 1).otherwise(0)
    f2 = F.when(n_tokens > GOPHER_MAX_WORDS, 1).otherwise(0)
    f3 = F.when((n_tokens == 0) | (wl < GOPHER_WL_MIN)
                | (wl > GOPHER_WL_MAX), 1).otherwise(0)
    f4 = F.when(stop_hits < GOPHER_MIN_STOPWORDS, 1).otherwise(0)
    f5 = F.when((nospace == 0) | (dr > GOPHER_MAX_DIGIT_RATIO), 1) \
        .otherwise(0)
    flags = d.select(f1.alias("f1"), f2.alias("f2"), f3.alias("f3"),
                     f4.alias("f4"), f5.alias("f5"))
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f1").alias("c1"), F.sum("f2").alias("c2"),
        F.sum("f3").alias("c3"), F.sum("f4").alias("c4"),
        F.sum("f5").alias("c5"),
        F.sum(F.when(F.col("f1") + F.col("f2") + F.col("f3")
                     + F.col("f4") + F.col("f5") == 0, 1).otherwise(0))
        .alias("n_pass"))
    rules = [("word_count_low", "c1"), ("word_count_high", "c2"),
             ("mean_word_length", "c3"), ("stopword_floor", "c4"),
             ("digit_ratio", "c5")]
    pairs = F.array(
        *[F.struct(F.lit(name).alias("rule"),
                   F.col(c).cast("long").alias("n_fail"))
          for name, c in rules],
        F.struct(F.lit("all_rules_pass").alias("rule"),
                 (F.col("n_docs") - F.col("n_pass")).cast("long")
                 .alias("n_fail")))
    return agg.select(
        F.explode(pairs).alias("kv"),
        F.col("n_docs").cast("long").alias("n_docs"),
    ).select("kv.rule", "kv.n_fail", "n_docs")


# ---- Readability scoring: Automated Readability Index (L3g) ------------------

ARI_COLLEGE = 14.0  # ARI grade level considered college+ difficulty


@query(
    "q_text_readability",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             length(replace(text, ' ', '')) AS chars,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS words,
             len(list_filter(string_split(text, '. '), x -> x <> ''))
               AS sentences
      FROM documents
    ),
    scored AS (
      SELECT source, chars, words, sentences,
             CAST(CAST(4.71 AS DOUBLE) * (CAST(chars AS DOUBLE) / words)
                  + CAST(0.5 AS DOUBLE)
                    * (CAST(words AS DOUBLE) / sentences)
                  - CAST(21.43 AS DOUBLE) AS DECIMAL(18,6)) AS ari
      FROM per_doc WHERE words > 0 AND sentences > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(CAST(SUM(CAST(CAST(chars AS DOUBLE) / words
                AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS avg_chars_per_word,
           CAST(CAST(CAST(SUM(CAST(CAST(words AS DOUBLE) / sentences
                AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS avg_words_per_sentence,
           CAST(CAST(CAST(SUM(ari) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS avg_ari,
           CAST(CAST(CAST(SUM(CASE WHEN CAST(ari AS DOUBLE)
                                        > {ARI_COLLEGE}
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS college_share
    FROM scored
    GROUP BY source
    """,
    tags=("L3g", "text", "readability"),
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY AUDIT per source: the Automated Readability Index
    (ARI = 4.71·chars/word + 0.5·words/sentence − 21.43) averaged per
    source plus the share of college+ difficulty docs (ARI >
    {ARI_COLLEGE}) — the curation signal between L3's length/quality
    heuristics and the L6e model gate: a pretraining mix is usually
    BALANCED on difficulty, and a source whose readability suddenly
    shifts has changed its content pipeline. ARI is chosen over
    Flesch/FK deliberately: it is defined on pure character/word/
    sentence COUNTS (no syllable heuristic), so the whole score is
    deterministic cross-engine string arithmetic — the same whitespace
    tokens and '. ' sentence split every other L3 operator uses.

    One projection + one keyed aggregate; per-doc ratios and ARI are
    6-dp-quantized before their sums (partial/final-order safe).
    Degenerate docs (no words or no sentences) are excluded on both
    engines."""
    d = load(spark, sf_dir, "documents")
    chars = F.length(F.regexp_replace("text", " ", ""))
    words = F.size(tokens(F.col("text")))
    sentences = F.size(F.filter(F.split("text", "\\. "),
                                lambda x: x != ""))
    per_doc = d.select("source", chars.alias("chars"),
                       words.alias("words"),
                       sentences.alias("sentences"))
    cw = F.col("chars").cast("double") / F.col("words")
    ws = F.col("words").cast("double") / F.col("sentences")
    ari = (4.71 * cw + 0.5 * ws - 21.43).cast("decimal(18,6)")
    scored = (per_doc.where((F.col("words") > 0)
                            & (F.col("sentences") > 0))
              .select("source", cw.cast("decimal(18,6)").alias("cw"),
                      ws.cast("decimal(18,6)").alias("ws"),
                      ari.alias("ari")))
    n = F.count(F.lit(1))
    return scored.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        (F.sum("cw").cast("double") / n).cast("decimal(18,6)")
        .cast("double").alias("avg_chars_per_word"),
        (F.sum("ws").cast("double") / n).cast("decimal(18,6)")
        .cast("double").alias("avg_words_per_sentence"),
        (F.sum("ari").cast("double") / n).cast("decimal(18,6)")
        .cast("double").alias("avg_ari"),
        (F.sum(F.when(F.col("ari").cast("double") > ARI_COLLEGE, 1)
               .otherwise(0)).cast("double") / n)
        .cast("decimal(18,6)").cast("double").alias("college_share"))


# ---- Language-ID quality audit (L3h) ---------------------------------------------


@query(
    "q_text_langid_audit",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN {tuple(EN_STOPWORDS)!r})) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '),
                              x -> x <> '')), 1)
               > 0.12 AS pred_en
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pred_en THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_en,
           CAST(CAST(CAST(SUM(CASE WHEN pred_en THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*) AS DECIMAL(18,6))
                AS DOUBLE) AS pred_en_rate,
           CAST(CASE WHEN lang = 'en'
                THEN SUM(CASE WHEN pred_en THEN 1 ELSE 0 END)
                ELSE SUM(CASE WHEN pred_en THEN 0 ELSE 1 END) END
                AS BIGINT) AS n_correct
    FROM pred GROUP BY lang
    """,
    tags=("L3h", "langid", "audit"),
)
def q_text_langid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID QUALITY AUDIT: the stopword-ratio classifier
    (q_text_langid) scored against the corpus's labeled ``lang``
    column, per true language — prediction rate and correct count per
    class, i.e. the confusion matrix's row view (recall for 'en',
    specificity for everything else). The measurement that belongs
    next to any heuristic classifier before a 100 TB corpus filters
    on it: a cheap rule's error concentrates in specific languages,
    and this shows WHICH.

    Scale: one scan with the classifier as a column expression, one
    hash aggregate to |languages| rows; exact integer counts, one
    quantized rate division."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(F.split(F.col("text"), " "),
                 lambda x: x.isin(*EN_STOPWORDS)))
    # floor rewrite (r15): identical contract to the CASE it replaces —
    # ntok = 0 forces stop_hits 0, ratio 0, pred FALSE — without the
    # per-branch re-tokenize the CASE form costs
    pred_en = (stop_hits.cast("double")
               / F.greatest(F.size(toks), F.lit(1))) > 0.12
    pred = d.select("lang", pred_en.alias("pred_en"))
    agg = pred.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("pred_en"), 1).otherwise(0)).alias("n_pred_en"))
    correct = F.when(F.col("lang") == "en", F.col("n_pred_en")) \
        .otherwise(F.col("n_docs") - F.col("n_pred_en"))
    return agg.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_pred_en").cast("bigint").alias("n_pred_en"),
        (F.col("n_pred_en").cast("double") / F.col("n_docs"))
        .cast("decimal(18,6)").cast("double").alias("pred_en_rate"),
        correct.cast("bigint").alias("n_correct"))


# ---- NDCG ranked-retrieval evaluation (L3w) ---------------------------------

NDCG_K = 10
NDCG_REL_CAP = 3  # graded relevance = min(raw tf, cap)
NDCG_TERMS = (SEARCH_TERM_A, SEARCH_TERM_B, "data")


def bm25_graded_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, rel, s): the BM25-scored candidate relation with
    graded weak labels — ONE builder shared by every ranked-retrieval
    eval (q_text_ndcg, q_text_mrr), the q_ml_eval-family discipline
    (evals that share a core can never score different rankings).
    Scale shape: tokenize once, query-term filter pushed below the tf
    aggregate, 1-3-row df/corpus relations broadcast."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # ONE tokenize pass (r15, guide §1.2 step 1): doc length AND the
    # per-term frequencies for the fixed query-term set ride the same
    # per-doc aggregation — previously the corpus was tokenized twice
    # (once unfiltered for dl, once term-filtered for tf) and tf⋈dl
    # re-joined what one pass produces together. Counts are identical
    # by construction (conditional sums = filtered counts), so every
    # downstream score is bit-unchanged.
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[F.sum(F.when(F.col("term") == t, 1).otherwise(0))
          .alias(f"tf_{i}") for i, t in enumerate(NDCG_TERMS)])
    corpus = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    tf = (per_doc.select(
        "doc_id", "dl",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("term"),
                     F.col(f"tf_{i}").alias("tf"))
            for i, t in enumerate(NDCG_TERMS)])).alias("kv"))
        .select("doc_id", "dl", "kv.term", "kv.tf")
        .where(F.col("tf") > 0))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                 / (F.col("df") + 0.5)).cast(QDEC).cast("double"))
    denom = (F.col("tf") + BM25_K1 * (1.0 - BM25_B
             + BM25_B * F.col("dl") / F.col("avgdl")))
    s = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    return (tf.join(F.broadcast(df), "term")
            .crossJoin(F.broadcast(corpus))
            .select("term", "doc_id",
                    F.least(F.col("tf"), F.lit(NDCG_REL_CAP))
                    .alias("rel"),
                    s.alias("s")))


def _bm25_scored_ctes() -> str:
    """The shared tokenize→tf→df→BM25-score CTE chain up to `scored`
    (term, doc_id, rel, s) — ONE text for every ranked-retrieval-eval
    oracle (NDCG, MRR) so the evals can never score different
    rankings."""
    terms = ", ".join(f"'{t}'" for t in NDCG_TERMS)
    return f"""toks AS (
      SELECT doc_id, u.word AS term
      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), corpus AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term IN ({terms})
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.term, tf.doc_id,
             LEAST(tf.tf, {NDCG_REL_CAP}) AS rel,
             CAST(CAST(ln(1.0 + (corpus.n_docs - df.df + 0.5)
                                / (df.df + 0.5)) AS DECIMAL(18,6))
                  AS DOUBLE)
             * (tf.tf * (CAST({BM25_K1} AS DOUBLE) + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                 + {BM25_B} * dl.dl / corpus.avgdl)) AS s
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN df ON tf.term = df.term
      CROSS JOIN corpus
    )"""


def _ndcg_oracle() -> str:
    return f"""
    WITH {_bm25_scored_ctes()}, ranked AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY CAST(s AS DECIMAL(20,6)) DESC, doc_id) AS pos,
             ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY rel DESC, doc_id) AS ideal_pos,
             COUNT(*) OVER (PARTITION BY term) AS n_candidates
      FROM scored
    ), gains AS (
      SELECT term, MAX(n_candidates) AS n_candidates,
             SUM(CASE WHEN pos <= {NDCG_K} THEN
               CAST((pow(2.0, rel) - 1.0)
                    / (ln(pos + 1.0) / ln(2.0)) AS DECIMAL(27,9))
               ELSE 0 END) AS dcg,
             SUM(CASE WHEN ideal_pos <= {NDCG_K} THEN
               CAST((pow(2.0, rel) - 1.0)
                    / (ln(ideal_pos + 1.0) / ln(2.0)) AS DECIMAL(27,9))
               ELSE 0 END) AS idcg
      FROM ranked GROUP BY term
    )
    SELECT term,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(CAST(CAST(dcg AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
             AS dcg,
           CAST(CAST(CAST(idcg AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
             AS idcg,
           CASE WHEN idcg = 0 THEN NULL
                ELSE CAST(CAST(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
                     AS DECIMAL(18,6)) AS DOUBLE) END AS ndcg
    FROM gains
    ORDER BY term
    """


@query("q_text_ndcg", oracle=_ndcg_oracle(),
       tags=("L3w", "search", "ndcg"))
def q_text_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} OF THE BM25 RANKER, per query term — the ranking-
    QUALITY member of the retrieval family: L3r produces the ranking,
    this scores it against graded relevance (rel = min(raw tf,
    {NDCG_REL_CAP}) — raw term frequency as weak graded labels, the
    standard zero-judgment proxy) with the exponential-gain /
    log-position-discount that makes swapping ranks 1 and 2 matter far
    more than 9 and 10. BM25's saturating-tf + length normalization
    deliberately DISAGREES with raw tf, so NDCG < 1 here measures
    exactly how much the ranker's length prior reorders the label
    order — per term, the one number a retrieval regression suite
    tracks.

    Scale shape: same posting/corpus relations as L3r (tokenize once,
    query-term filter pushed below the tf agg, 1-3-row df/corpus
    broadcasts); BOTH orderings (ranked and ideal) come from windows
    partitioned by term over term-filtered candidates, with doc_id
    tie-breaks making each a total order; scores rank on the 6-dp
    decimal grid so both engines agree on ties. Per-position gain
    terms pass through ln twice → 9-dp-quantized before the per-term
    fold; NDCG itself is one 6-dp division."""
    scored = bm25_graded_candidates(spark, sf_dir)
    wrank = Window.partitionBy("term").orderBy(
        F.col("s").cast("decimal(20,6)").desc(), "doc_id")
    wideal = Window.partitionBy("term").orderBy(
        F.col("rel").desc(), "doc_id")
    ranked = scored.select(
        "term", "rel",
        F.row_number().over(wrank).alias("pos"),
        F.row_number().over(wideal).alias("ideal_pos"))
    log2 = F.log(F.lit(2.0))
    gain_at = lambda pos_col: (  # noqa: E731
        (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
        / (F.log(pos_col + 1.0) / log2)).cast("decimal(27,9)")
    # n_candidates = the per-term row count — it falls out of this
    # aggregation directly; the unordered count-over-partition window
    # it used to ride was a third window pass for a value the groupBy
    # already knows (r15, guide §2.4).
    gains = ranked.groupBy("term").agg(
        # sum(1) not count(1): value-identical on non-empty groups while
        # keeping the column NULLABLE like the max-over-window it
        # replaces — the driver gates on result schema.
        F.sum(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("pos") <= NDCG_K, gain_at(F.col("pos")))
              .otherwise(F.lit(0).cast("decimal(27,9)"))).alias("dcg"),
        F.sum(F.when(F.col("ideal_pos") <= NDCG_K,
                     gain_at(F.col("ideal_pos")))
              .otherwise(F.lit(0).cast("decimal(27,9)"))).alias("idcg"))
    return gains.select(
        "term",
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("dcg").cast("double").cast("decimal(18,6)").cast("double")
        .alias("dcg"),
        F.col("idcg").cast("double").cast("decimal(18,6)").cast("double")
        .alias("idcg"),
        F.when(F.col("idcg") == 0, F.lit(None).cast("double"))
        .otherwise((F.col("dcg").cast("double")
                    / F.col("idcg").cast("double"))
                   .cast("decimal(18,6)").cast("double")).alias("ndcg")
    ).orderBy("term")


# ---- MRR / hit-rate ranked-retrieval evaluation (L3x) ------------------------

MRR_K = 10
MRR_REL_MIN = 2  # binary relevance = graded rel >= 2 (tf >= 2)


def _mrr_oracle() -> str:
    return f"""
    WITH {_bm25_scored_ctes()}, ranked AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY CAST(s AS DECIMAL(20,6)) DESC, doc_id) AS pos,
             COUNT(*) OVER (PARTITION BY term) AS n_candidates
      FROM scored
    )
    SELECT term,
           CAST(MAX(n_candidates) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN rel >= {MRR_REL_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_relevant,
           CAST(MIN(CASE WHEN rel >= {MRR_REL_MIN} THEN pos END)
                AS BIGINT) AS first_rel_pos,
           CASE WHEN MIN(CASE WHEN rel >= {MRR_REL_MIN} THEN pos END)
                  IS NULL THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(CAST(1.0 / MIN(CASE WHEN rel >= {MRR_REL_MIN}
                                         THEN pos END)
                AS DECIMAL(18,6)) AS DOUBLE) END AS reciprocal_rank,
           COALESCE(MIN(CASE WHEN rel >= {MRR_REL_MIN} THEN pos END)
                    <= {MRR_K}, FALSE) AS hit_at_k
    FROM ranked
    GROUP BY term
    ORDER BY term
    """


@query("q_text_mrr", oracle=_mrr_oracle(), tags=("L3x", "search", "mrr"))
def q_text_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + HIT@{MRR_K} OF THE BM25 RANKER, per query term — the
    first-relevant-result member of the retrieval-eval family: NDCG
    (L3w) scores the whole top-{NDCG_K} ordering, MRR scores only how
    FAST the ranking reaches something relevant (the navigational /
    RAG-retrieval number: a context builder that takes the first hit
    cares about rank-of-first-hit, not graded ordering below it), and
    hit@{MRR_K} is the recall-style boolean a retrieval SLA alerts on.
    Binary relevance = graded rel ≥ {MRR_REL_MIN} (the same weak tf
    labels as NDCG, thresholded).

    Same scored relation as q_text_ndcg via bm25_graded_candidates —
    one builder, the evals can never rank differently. A term with no
    relevant candidate reports first_rel_pos NULL, reciprocal_rank 0.0
    and hit FALSE (never-NULL boolean, the pandas NaN-boolean gate
    hazard). Scale: the ranking window runs per term over term-filtered
    candidates; the fold is |terms| rows."""
    scored = bm25_graded_candidates(spark, sf_dir)
    wrank = Window.partitionBy("term").orderBy(
        F.col("s").cast("decimal(20,6)").desc(), "doc_id")
    ranked = scored.select(
        "term", "rel",
        F.row_number().over(wrank).alias("pos"))
    rel_pos = F.min(F.when(F.col("rel") >= MRR_REL_MIN, F.col("pos")))
    return (ranked.groupBy("term")
            # sum(1) = the per-term candidate count, value-identical to
            # the count-over-partition window it replaces (one fewer
            # window pass — r15, guide §2.4) and nullable like it.
            .agg(F.sum(F.lit(1)).cast("bigint")
                 .alias("n_candidates"),
                 F.sum(F.when(F.col("rel") >= MRR_REL_MIN, 1)
                       .otherwise(0)).cast("bigint").alias("n_relevant"),
                 rel_pos.cast("bigint").alias("first_rel_pos"),
                 F.when(rel_pos.isNull(), F.lit(0.0))
                 .otherwise((F.lit(1.0) / rel_pos)
                            .cast("decimal(18,6)").cast("double"))
                 .alias("reciprocal_rank"),
                 F.coalesce(rel_pos <= MRR_K, F.lit(False))
                 .alias("hit_at_k"))
            .orderBy("term"))
