"""End-to-end corpus curation pipeline (north-star composite: L3 → L1 →
L5 in ONE Catalyst plan).

The reference's analog is its composite rule pipeline (overlap ∘ generics
∘ payer ∘ scoring — reference README.md:3,9; mirrored in
domain/queries.py). This is the training-data counterpart: quality
filter → exact dedup → deterministic split, composed from the same
library stages the individual queries use, so the whole curation pass is
one declarative plan — one scan of the corpus, one window for the dedup
keeper choice, one aggregate for the report. Nothing materializes between
stages; Catalyst fuses the filter into the scan and prunes columns across
stage boundaries, which is exactly what makes a multi-stage curation
affordable at 100 TB (a stage-per-job pipeline would rescan the corpus
once per stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scoring import fit_logistic, gd_oracle, logistic_p
from ..functions.text import tokens
from ..io import load
from ..materialize import share
from ..registry import query
from .sampling import TRAIN_NIBBLES, VAL_NIBBLES, hash_split

MIN_TOKENS = 30  # quality gate: drop degenerate short documents

# The documents that pass the token gate, as a DuckDB CTE.
QUALITY_ORACLE = f"""quality AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> ''))
            >= {MIN_TOKENS}
    )"""


def quality_filtered(docs: DataFrame) -> DataFrame:
    """The documents that pass the token gate (>= MIN_TOKENS tokens)."""
    return docs.where(F.size(tokens(F.col("text"))) >= MIN_TOKENS)


@query(
    "q_pipeline_corpus_curation",
    oracle=f"""
    WITH {QUALITY_ORACLE}, keeper AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM quality
    ), deduped AS (
      SELECT doc_id, lang, n_chars FROM keeper WHERE rn = 1
    )
    SELECT
      CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN {tuple(TRAIN_NIBBLES)!r} THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN {tuple(VAL_NIBBLES)!r} THEN 'val'
        ELSE 'test'
      END AS split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM deduped
    GROUP BY 1, 2
    """,
    tags=("L1", "L3", "L5", "pipeline"),
)
def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation end-to-end: quality-filter (≥30 tokens) → exact
    dedup (keep smallest doc_id per content digest) → deterministic
    train/val/test split → per-(split, lang) size report. One scan, one
    window, one aggregate — the composed form of q_text_quality,
    q_dedup_exact and q_split_train_test, proving the library stages
    fuse into a single plan instead of a job chain."""
    d = load(spark, sf_dir, "documents")
    quality = quality_filtered(d)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    return (
        deduped.select(hash_split(F.col("doc_id")).alias("split"),
                       "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
    )


def _near_dedup_oracle() -> str:
    from .dedup import lsh_verified_oracle
    from .sampling import TRAIN_NIBBLES, VAL_NIBBLES

    return f"""
    WITH {QUALITY_ORACLE},
    {lsh_verified_oracle(src="quality")},
    dropped AS (
      SELECT DISTINCT b_doc_id AS doc_id FROM verified
    ), kept AS (
      SELECT q.doc_id, q.lang, q.n_chars
      FROM quality q LEFT JOIN dropped d ON q.doc_id = d.doc_id
      WHERE d.doc_id IS NULL
    )
    SELECT
      CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN {tuple(TRAIN_NIBBLES)!r} THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN {tuple(VAL_NIBBLES)!r} THEN 'val'
        ELSE 'test'
      END AS split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY 1, 2
    """


@query(
    "q_pipeline_near_dedup",
    oracle=_near_dedup_oracle(),
    tags=("L1", "L3", "L5", "pipeline", "lsh"),
)
def q_pipeline_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation with REAL near-dedup: quality filter (≥30 tokens)
    → md5-MinHash LSH candidates → exact-Jaccard verification → drop the
    non-canonical side of every verified duplicate pair (keep the
    smaller doc_id) → deterministic split → per-(split, lang) report.
    The production counterpart of q_pipeline_corpus_curation (which uses
    exact dedup): the dedup stage here catches near-duplicates, and the
    whole pass stays oracle-checkable because the LSH family is
    engine-portable md5 (see q_dedup_lsh_verified).

    The keep policy (drop every larger-id member of a verified pair) is
    the greedy pairwise form — deterministic and one anti-join, where
    the cluster-exact form (q_dedup_clusters' connected components +
    keep-min-per-component) costs an iterative loop; at 100 TB the pair
    relation is the same either way, and policy choice is a downstream
    toggle. Scale shape: candidates track true duplicates, the verify
    join touches candidates only, and the final anti-join + aggregate
    shuffle doc ids — never text."""
    from .dedup import lsh_verified_pairs
    from .sampling import hash_split

    d = load(spark, sf_dir, "documents")
    quality = quality_filtered(d)
    dropped = (lsh_verified_pairs(quality)
               .select(F.col("b_doc_id").alias("doc_id")).distinct())
    kept = quality.join(dropped, "doc_id", "left_anti")
    return (
        kept.select(hash_split(F.col("doc_id")).alias("split"),
                    "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
    )


def _canonical_oracle() -> str:
    from .dedup import (CLUSTER_SIZES_ORACLE, components_oracle,
                        lsh_verified_oracle)

    return f"""
    WITH RECURSIVE {lsh_verified_oracle()},
    {components_oracle()}, sized AS (
      {CLUSTER_SIZES_ORACLE}
    ), ranked AS (
      SELECT cluster_id, s.doc_id, d.n_chars, cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY cluster_id
               ORDER BY d.n_chars DESC, s.doc_id) AS rn
      FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT cluster_id,
           doc_id AS canonical_doc_id,
           n_chars AS canonical_n_chars,
           cluster_size
    FROM ranked WHERE rn = 1
    """


@query(
    "q_pipeline_canonical",
    oracle=_canonical_oracle(),
    tags=("L1", "L1b", "pipeline", "clusters"),
)
def q_pipeline_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLUSTER-EXACT keep policy end to end: LSH-verified duplicate
    pairs → connected components → elect ONE canonical document per
    component (longest text wins, doc_id breaks ties — a total order, so
    the election is engine-independent) → one row per cluster with its
    canonical doc and size. This is the policy q_pipeline_near_dedup's
    docstring defers to: greedy pairwise drop keeps whichever side of
    each pair is smaller, while the component form guarantees exactly
    one survivor per *transitive* duplicate group (A~B, B~C, A≁C still
    collapses to one doc).

    Scale shape: identical to q_dedup_clusters_lsh (candidate edges
    track true duplicates; min-label propagation shuffles (node, label)
    only) plus one window over components — partitioned by cluster_id,
    the same key the labels already carry. Canonical election ships
    (doc_id, n_chars, label); never text."""
    from .dedup import cluster_sizes, connected_components, lsh_verified_pairs

    d = load(spark, sf_dir, "documents")
    edges = lsh_verified_pairs(d).select(
        F.col("a_doc_id").alias("src"), F.col("b_doc_id").alias("dst"))
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")), edges)
    sized = cluster_sizes(labels).join(
        d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    ranked = sized.select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("n_chars").alias("canonical_n_chars"),
        F.row_number().over(w).alias("rn"),
        "cluster_size",
    )
    return ranked.where(F.col("rn") == 1).drop("rn")


# ---- Deterministic context-window packing --------------------------------

PACK_CTX = 2048     # tokens per training context window
PACK_SHARDS = 16    # md5-nibble shards: the packing parallelism unit


@query(
    "q_pipeline_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS key
      FROM documents
    ), s AS (
      SELECT doc_id, n_tokens, key,
             CAST(concat('0x', substr(key, 1, 1)) AS INTEGER) AS shard
      FROM t
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY key
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    )
    SELECT doc_id, shard,
           CAST(shard * 1000000
                + ((cum - n_tokens) // {PACK_CTX}) AS BIGINT) AS pack_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_tok
    FROM c
    """,
    tags=("L5", "L6", "pipeline", "packing"),
)
def q_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic context-window PACKING — assign every document a
    (shard, pack_id, start_tok) slot in a stream of {PACK_CTX}-token
    training windows: shard by the first md5 nibble of doc_id, order
    within the shard by the full digest (a deterministic global
    shuffle), running-sum the token counts, and derive each doc's pack
    from the window its first token lands in. Downstream loaders
    concatenate a pack's docs in (start_tok) order and split/pad at the
    {PACK_CTX} boundary — start_tok says exactly where each doc begins.

    Scale shape: this is the op that turns "shuffle and pack 100 TB of
    text" into {PACK_SHARDS} independent window partitions — no global
    sort, no driver loop; each shard's cumsum is one partitioned window
    whose skew is bounded by md5 uniformity. Engine-portable end to end
    (md5 ordering + integer arithmetic), so the oracle mirrors the
    exact pack assignment, not just counts."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    t = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        key.alias("key"),
        F.conv(F.substring(key, 1, 1), 16, 10).cast("int").alias("shard"),
    )
    w = (Window.partitionBy("shard").orderBy("key")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id", "shard",
        (F.col("shard") * 1_000_000
         + F.floor(start / PACK_CTX)).cast("bigint").alias("pack_id"),
        F.col("n_tokens"),
        start.cast("bigint").alias("start_tok"),
    )


# ---- Overlapping context-window chunking ---------------------------------

CHUNK_CHARS = 256   # chunk width
CHUNK_STRIDE = 192  # stride: consecutive chunks overlap by 64 chars
_CHUNK_MAX = 64     # oracle-side series bound (DuckDB 1.0 cannot lateral-
                    # join range() on a column; 64 covers docs to ~12 KB)


@query(
    "q_pipeline_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(text) <= {CHUNK_CHARS} THEN 1
                  ELSE (length(text) - {CHUNK_CHARS} + {CHUNK_STRIDE} - 1)
                       // {CHUNK_STRIDE} + 1
             END AS n_chunks
      FROM documents
    )
    SELECT doc_id,
           CAST(g.i AS INTEGER) AS chunk_idx,
           CAST(g.i * {CHUNK_STRIDE} AS BIGINT) AS start_char,
           substr(text, CAST(g.i * {CHUNK_STRIDE} + 1 AS INTEGER),
                  {CHUNK_CHARS}) AS chunk_text,
           length(substr(text, CAST(g.i * {CHUNK_STRIDE} + 1 AS INTEGER),
                         {CHUNK_CHARS})) AS chunk_len
    FROM t, range(0, {_CHUNK_MAX}) g(i)
    WHERE g.i < t.n_chunks
    """,
    tags=("L3", "L6", "pipeline", "chunking"),
)
def q_pipeline_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window CHUNKING — split every document into
    {CHUNK_CHARS}-char windows advancing {CHUNK_STRIDE} chars at a time
    (64-char overlap, the RAG/embedding-ingest convention so no sentence
    is lost on a boundary): one output row per (doc, chunk) with the
    chunk's index, start offset, text, and length. The last chunk is the
    short remainder; a sub-width document yields exactly one chunk.

    Spark shape: ``explode(sequence(0, n_chunks-1))`` + ``substring`` —
    pure codegen'd expressions, no Python, no shuffle at all (chunking
    is embarrassingly row-local, so at 100 TB it runs at scan speed and
    composes with downstream embedding/packing stages in the same
    plan). The chunk count is closed-form integer arithmetic, portable
    to the oracle bit-for-bit."""
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    n_chunks = F.when(n <= CHUNK_CHARS, F.lit(1)).otherwise(
        F.floor((n - CHUNK_CHARS + CHUNK_STRIDE - 1) / CHUNK_STRIDE) + 1)
    t = d.select("doc_id", "text",
                 F.explode(F.sequence(F.lit(0),
                                      (n_chunks - 1).cast("int")))
                 .alias("chunk_idx"))
    start1 = F.col("chunk_idx") * CHUNK_STRIDE + 1
    chunk = F.substring(F.col("text"), start1, CHUNK_CHARS)
    return t.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * CHUNK_STRIDE).cast("bigint")
        .alias("start_char"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
    )


# ---- Model-based quality filtering (trained classifier gate) -------------

# Positive class: English documents — the metadata label the classifier
# learns to predict FROM TEXT FEATURES alone (the wiki-vs-crawl weak
# supervision behind fastText-style quality/language gates; the lang
# column plays the role of the trusted-corpus label, and the stopword
# ratio is genuinely predictive of it, so the fit separates).

from ..functions.text import EN_STOPWORDS  # noqa: E402

_QF_NTOK = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
# Zero-norm discipline (r14, VERDICT r13 item 3): the empty-document
# guard is a greatest(ntok, 1) FLOOR on the divisor, not a CASE branch.
# Value-equivalent because tokens() is whitespace-split: ntok = 0 forces
# BOTH numerators to 0 (the stopword filter of an empty token list is
# empty, and a zero-token text is all spaces so replace(text,' ','')
# is ''), hence 0/1 = the 0.0 the old CASE returned — proven by the
# flat_corpus degenerate profile and the eval-family property tests.
# The CASE form cost ~0.35-0.45 s/query at sf0.1 across the 12-query
# eval family: the conditional blocked subexpression elimination, so
# the split+filter tokenization ran once per branch reference instead
# of once per row (profiled r14; the sim family's r13 greatest() floor
# rewrite set the precedent — llm/similarity.py:114).
_QF_FEATURES = f"""
    f AS (
      SELECT doc_id, source, n_chars,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN {tuple(EN_STOPWORDS)!r})) AS DOUBLE)
               / greatest({_QF_NTOK}, 1) AS x1,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / greatest({_QF_NTOK}, 1) / 10.0 AS x2,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    )"""


def _gd_ctes_and_p() -> tuple[list, str]:
    """The feature CTE plus ``gd_oracle`` over it, and the fitted score
    expression — the shared core of every oracle that scores documents
    with the quality gate, so the oracles can never train different
    models."""
    ctes, p = gd_oracle("f")
    return [_QF_FEATURES, *ctes], p


def _qf_oracle() -> str:
    """The fitted gate's corpus-wide scoring pass grouped by source."""
    ctes, p = _gd_ctes_and_p()
    ctes.append(f"""scored AS (
      SELECT source, n_chars, {p} AS p FROM f
    ), thr AS (
      SELECT CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        AS thr
      FROM scored
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr)
                    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_score
    FROM scored
    GROUP BY source
    """


def quality_features(d: DataFrame) -> DataFrame:
    """(doc_id, source, n_chars, x1, x2, y): the text features + weak
    label both model queries (fit/report and eval) share."""
    toks = tokens(F.col("text"))
    # an EMPTY document (ntok = 0) gets zero features instead of an
    # ANSI DIVIDE_BY_ZERO via the greatest(ntok, 1) divisor floor —
    # value-equivalent to the old CASE guard because whitespace
    # tokenization makes ntok = 0 force both numerators to 0 (see the
    # _QF_FEATURES note); dead on harness data (min text length 48),
    # proven live by the flat_corpus degenerate profile. The floor
    # keeps every expression unconditional so codegen shares ONE
    # split+filter per row; the CASE form re-tokenized per branch
    # reference (~0.35-0.45 s/query at sf0.1, profiled r14).
    ntok = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    feats = d.select(
        "doc_id", "source", "n_chars",
        (stop_hits.cast("double") / ntok).alias("x1"),
        (F.length(F.regexp_replace("text", " ", ""))
         .cast("double") / ntok / F.lit(10.0)).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    # Share the NUMERIC feature relation (r15, guide §1.2
    # step 1): every GD-family consumer makes >= 3 passes over feats
    # (GD_ROUNDS fit rounds + scoring), and without a materialization
    # point each pass re-tokenized the whole corpus — stopword filter +
    # regexp per document per pass. One tokenizing scan now feeds every
    # round/score pass reading (doc_id, source, n_chars, x1, x2, y) —
    # the staged feature table a real trainer materializes before GD.
    # Values bit-identical (same columns).
    return share(feats)


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_chars, y, p): every document scored by the
    quality gate, a ``fit_logistic`` model of ``y`` on the
    ``quality_features`` of the whole corpus."""
    feats = quality_features(load(spark, sf_dir, "documents"))
    return (feats.crossJoin(F.broadcast(fit_logistic(feats)))
            .select("doc_id", "source", "n_chars", "y",
                    logistic_p().alias("p")))


@query("q_pipeline_quality_model", oracle=_qf_oracle(),
       tags=("L3", "L6", "ml", "pipeline"))
def q_pipeline_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality filtering, trained and applied in one plan:
    learn a logistic gate in-engine (positives = documents whose lang
    metadata says English — weak supervision; features = stopword ratio
    + scaled mean token length, which genuinely predict it), then score
    the WHOLE corpus and report keep/drop per source — the
    fastText-style classifier gate of production curation pipelines
    (wiki-vs-crawl), trained by ``fit_logistic`` and scored by
    ``quality_scores``.

    Scale shape: after the GD rounds, the scoring pass is a pure
    projection + one per-source aggregate. Features are cheap column
    expressions — no Python, no tokenizer UDF."""
    # Keep-above-mean-score gate: quality filters threshold on a score
    # QUANTILE of the fitted distribution, not an absolute 0.5 (the
    # class prior shifts the whole distribution under imbalance). The
    # mean of the 6-dp-quantized scores is engine-exact; scored is
    # shared because the threshold aggregate and the final report
    # both consume it (the final plan embeds scored twice — once under
    # thr, once in the report).
    scored = share(quality_scores(spark, sf_dir)
                   .select("source", "n_chars", "p"))
    thr = scored.agg(
        (F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1))).alias("thr"))
    keep = F.col("p") >= F.col("thr")
    return (
        scored.crossJoin(F.broadcast(thr))  # 1-row threshold relation
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("bigint").alias("kept_chars"),
            (F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("mean_score"),
        )
    )


@query(
    "q_pipeline_incremental_dedup",
    oracle="""
    WITH base AS (
      SELECT md5(text) AS dig FROM documents WHERE doc_id % 10 <> 0
    ), delta AS (
      SELECT doc_id, source, n_chars, md5(text) AS dig
      FROM documents WHERE doc_id % 10 = 0
    ), keeper AS (
      SELECT doc_id, source, n_chars, dig,
             ROW_NUMBER() OVER (PARTITION BY dig ORDER BY doc_id) AS rn
      FROM delta
    ), novel AS (
      SELECT k.doc_id, k.source, k.n_chars,
             CASE WHEN k.rn > 1 THEN 'dup_in_batch'
                  WHEN b.dig IS NOT NULL THEN 'dup_vs_base'
                  ELSE 'ingested' END AS fate
      FROM keeper k
      LEFT JOIN (SELECT DISTINCT dig FROM base) b ON k.dig = b.dig
    )
    SELECT source, fate,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM novel
    GROUP BY source, fate
    """,
    tags=("L1", "M1", "pipeline"),
)
def q_pipeline_incremental_dedup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """INCREMENTAL-INGEST DEDUP (M1 × L1): a new delta batch (every
    10th doc plays the arrival) is deduplicated within itself
    (min-doc_id keeper per digest) and then against the already-ingested
    base corpus via a digest anti-join — each delta doc's fate is
    'dup_in_batch', 'dup_vs_base', or 'ingested'. This is the nightly
    ingestion gate of a continuously-growing corpus: the base is never
    rescanned as text, only its digest relation.

    Scale shape: both sides collapse to 32-byte digests before any
    join; the base digest relation is DISTINCT (one row per unique
    text, typically ≪ corpus rows) and at warehouse scale persists as
    the dedup index the stream/merge path (q_stream_merge) maintains
    incrementally. Shuffles carry (digest, id) — never document text;
    the fate split is one CASE over a left join, one report aggregate."""
    d = load(spark, sf_dir, "documents")
    base = (d.where(F.col("doc_id") % 10 != 0)
            .select(F.md5("text").alias("dig")).distinct())
    delta = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("dig"))
    wk = Window.partitionBy("dig").orderBy("doc_id")
    keeper = delta.withColumn("rn", F.row_number().over(wk))
    novel = (
        keeper.join(base.withColumnRenamed("dig", "b_dig"),
                    F.col("dig") == F.col("b_dig"), "left")
        .select(
            "source", "n_chars",
            F.when(F.col("rn") > 1, "dup_in_batch")
            .when(F.col("b_dig").isNotNull(), "dup_vs_base")
            .otherwise("ingested").alias("fate"))
    )
    return (
        novel.groupBy("source", "fate")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("total_chars"))
    )


def _ml_eval_oracle() -> str:
    """Confusion counts of the fitted gate at p>=0.5 vs the weak label,
    over the same feature/GD CTEs as _qf_oracle."""
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    thr AS (
      SELECT CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        AS thr
      FROM sc
    ),
    cm AS (
      SELECT
        CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr) AND y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr) AND y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN p < (SELECT thr FROM thr) AND y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN p < (SELECT thr FROM thr) AND y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc
    )
    SELECT tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
           CAST(tp AS DOUBLE) / (tp + fn) AS recall_,
           2.0 * tp / (2.0 * tp + fp + fn) AS f1,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy
    FROM cm
    """


@query("q_ml_eval", oracle=_ml_eval_oracle(),
       tags=("L6e", "ml-eval"))
def q_ml_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL EVALUATION in-engine: confusion matrix and
    precision/recall/F1/accuracy of the trained quality gate
    (quality_scores — the exact weights q_pipeline_quality_model
    ships) against its weak-supervision labels AT THE SHIPPED DECISION
    POINT — the mean-score threshold the keep gate actually uses (a
    fixed 0.5 sits above the prior-shifted score distribution here and
    predicts nothing positive; evaluating a gate nobody runs would be
    theater, and divides by zero under ANSI). One scan over the scored
    relation; four integer counts; ratios are single IEEE divisions
    from integers (engine-exact without quantization); the threshold is
    a sufficient-statistics quotient compared against the 6-dp score
    grid identically in both engines."""
    scored = share(quality_scores(spark, sf_dir).select("y", "p"))
    thr = scored.agg(
        (F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1))).alias("thr"))
    pos = F.col("p") >= F.col("thr")
    y1 = F.col("y") == 1.0
    cm = scored.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when(pos & y1, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pos & ~y1, 1).otherwise(0)).cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pos & y1, 1).otherwise(0)).cast("bigint")
        .alias("fn"),
        F.sum(F.when(~pos & ~y1, 1).otherwise(0)).cast("bigint")
        .alias("tn"))
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp", "fp", "fn", "tn",
        (tp.cast("double") / (tp + fp)).alias("precision_"),
        (tp.cast("double") / (tp + fn)).alias("recall_"),
        (F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn)).alias("f1"),
        ((tp + tn).cast("double") / (tp + fp + fn + tn))
        .alias("accuracy"))


def _fates_oracle() -> str:
    from .dedup import lsh_verified_oracle
    from .sampling import TRAIN_NIBBLES, VAL_NIBBLES

    return f"""
    WITH {QUALITY_ORACLE},
    {lsh_verified_oracle(src="quality")},
    displaced AS (
      SELECT b_doc_id AS doc_id, MIN(a_doc_id) AS kept_by
      FROM verified GROUP BY b_doc_id
    )
    SELECT d.doc_id,
           CASE
             WHEN q.doc_id IS NULL THEN 'quality_fail'
             WHEN x.doc_id IS NOT NULL THEN 'dup_loser'
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN {tuple(TRAIN_NIBBLES)!r} THEN 'kept:train'
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN {tuple(VAL_NIBBLES)!r} THEN 'kept:val'
             ELSE 'kept:test'
           END AS fate,
           x.kept_by
    FROM documents d
    LEFT JOIN quality q ON d.doc_id = q.doc_id
    LEFT JOIN displaced x ON d.doc_id = x.doc_id
    """


@query("q_pipeline_fates", oracle=_fates_oracle(),
       tags=("L6", "provenance"))
def q_pipeline_fates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT PROVENANCE through the near-dedup curation pass:
    every input doc gets its fate — 'quality_fail' (under the token
    gate), 'dup_loser' (displaced by a verified near-duplicate, with
    ``kept_by`` = the canonical doc that displaced it), or
    'kept:<split>' — the row-level audit trail q_pipeline_near_dedup's
    aggregate report summarizes. This is what makes a curation decision
    EXPLAINABLE at 100 TB: "why is doc X missing from training?" is one
    point lookup in this relation rather than a pipeline re-run. Same
    scale shape as the pipeline itself (the fate columns are two left
    joins on doc ids) plus one (b_doc_id)-keyed min-aggregate for the
    keeper attribution."""
    from .dedup import lsh_verified_pairs
    from .sampling import hash_split

    d = load(spark, sf_dir, "documents")
    quality = quality_filtered(d)
    displaced = (
        lsh_verified_pairs(quality)
        .groupBy(F.col("b_doc_id").alias("x_doc_id"))
        .agg(F.min("a_doc_id").alias("kept_by"))
    )
    q = quality.select(F.col("doc_id").alias("q_doc_id"))
    fate = (
        F.when(F.col("q_doc_id").isNull(), "quality_fail")
        .when(F.col("x_doc_id").isNotNull(), "dup_loser")
        .otherwise(F.concat(F.lit("kept:"),
                            hash_split(F.col("doc_id"))))
    )
    return (
        d.select("doc_id")
        .join(q, d.doc_id == F.col("q_doc_id"), "left")
        .join(displaced, F.col("doc_id") == F.col("x_doc_id"), "left")
        .select("doc_id", fate.alias("fate"), "kept_by")
    )


def _split_leak_oracle() -> str:
    from .dedup import lsh_verified_oracle
    from .sampling import TRAIN_NIBBLES, VAL_NIBBLES

    split = (f"CASE WHEN substr(md5(CAST({{c}} AS VARCHAR)), 1, 1) "
             f"IN {tuple(TRAIN_NIBBLES)!r} THEN 'train' "
             f"WHEN substr(md5(CAST({{c}} AS VARCHAR)), 1, 1) "
             f"IN {tuple(VAL_NIBBLES)!r} THEN 'val' ELSE 'test' END")
    return f"""
    WITH {lsh_verified_oracle()}
    SELECT least({split.format(c='a_doc_id')},
                 {split.format(c='b_doc_id')}) AS split_x,
           greatest({split.format(c='a_doc_id')},
                    {split.format(c='b_doc_id')}) AS split_y,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           {split.format(c='a_doc_id')}
             <> {split.format(c='b_doc_id')} AS is_leak
    FROM verified
    GROUP BY 1, 2, 4
    """


@query("q_split_leakage", oracle=_split_leak_oracle(),
       tags=("L5", "L1", "leakage"))
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-LEAKAGE AUDIT: verified near-duplicate pairs counted by
    the (split, split) cell their members land in — every cross-split
    cell (``is_leak``) is a member of the held-out set whose near-twin
    sits in training: the contamination mode that inflates eval scores
    and that row-hash splitting CANNOT prevent (near-dups hash
    differently; only dedup-before-split or group-split by cluster
    does). This query is the measurement that decides between those
    mitigations. Composes the green pair relation with the split
    assignment on both ids — id-keyed arithmetic only, no text, and a
    splits² cell aggregate."""
    from .dedup import lsh_verified_pairs
    from .sampling import hash_split

    d = load(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(d)
    sx = hash_split(F.col("a_doc_id"))
    sy = hash_split(F.col("b_doc_id"))
    return (
        pairs.select(F.least(sx, sy).alias("split_x"),
                     F.greatest(sx, sy).alias("split_y"),
                     (sx != sy).alias("is_leak"))
        .groupBy("split_x", "split_y", "is_leak")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .select("split_x", "split_y", "n_dup_pairs", "is_leak")
    )


# ---- Corpus release gate (composite GO/NO-GO) ----------------------------

GATE_MAX_DUP_RATE = 0.05     # verified near-dup pairs per doc
GATE_MAX_QFAIL_RATE = 0.20   # quality-gate failure share


def _release_gate_oracle() -> str:
    from .dedup import lsh_verified_oracle
    from .sampling import TRAIN_NIBBLES, VAL_NIBBLES

    split = (f"CASE WHEN substr(md5(CAST({{c}} AS VARCHAR)), 1, 1) "
             f"IN {tuple(TRAIN_NIBBLES)!r} THEN 'train' "
             f"WHEN substr(md5(CAST({{c}} AS VARCHAR)), 1, 1) "
             f"IN {tuple(VAL_NIBBLES)!r} THEN 'val' ELSE 'test' END")
    return f"""
    WITH {lsh_verified_oracle()},
    counts AS (
      SELECT
        (SELECT COUNT(*) FROM documents) AS n_docs,
        (SELECT COUNT(*) FROM verified) AS n_dup_pairs,
        (SELECT COUNT(*) FROM documents
         WHERE len(list_filter(string_split(text, ' '), x -> x <> ''))
               < {MIN_TOKENS}) AS n_quality_fail,
        (SELECT COUNT(*) FROM verified
         WHERE {split.format(c='a_doc_id')}
               <> {split.format(c='b_doc_id')}) AS n_leak_pairs
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs,
           CAST(n_quality_fail AS BIGINT) AS n_quality_fail,
           CAST(n_leak_pairs AS BIGINT) AS n_leak_pairs,
           CAST(n_dup_pairs AS DOUBLE) / n_docs AS dup_rate,
           CAST(n_quality_fail AS DOUBLE) / n_docs AS qfail_rate,
           CAST(n_dup_pairs AS DOUBLE) / n_docs <= {GATE_MAX_DUP_RATE}
             AND CAST(n_quality_fail AS DOUBLE) / n_docs
                 <= {GATE_MAX_QFAIL_RATE}
             AND n_leak_pairs = 0 AS release_ok
    FROM counts
    """


@query("q_corpus_release_gate", oracle=_release_gate_oracle(),
       tags=("L6", "release-gate"))
def q_corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS RELEASE GATE: ONE row answering "may this corpus ship" —
    near-dup pair rate, quality-failure rate, and cross-split leak
    count, each against its threshold, folded into a single
    ``release_ok`` verdict: the CI gate a dataset release pipeline
    blocks on, composed from the same green stages the detailed audits
    expose (q_dedup_burden_matrix, q_pipeline_fates, q_split_leakage
    are the drill-downs when this row is red). All counts are
    id-keyed aggregates of existing bounded-shuffle machinery; the
    verdict is integer/IEEE arithmetic."""
    from .dedup import lsh_verified_pairs
    from .sampling import hash_split

    d = load(spark, sf_dir, "documents")
    pairs = share(lsh_verified_pairs(d))
    n_docs = d.count()
    n_dup = pairs.count()
    n_qfail = d.where(
        F.size(tokens(F.col("text"))) < MIN_TOKENS).count()
    n_leak = pairs.where(
        hash_split(F.col("a_doc_id")) != hash_split(F.col("b_doc_id"))
    ).count()
    # Empty corpus: rates are vacuously 0 but the gate says NO-GO — a
    # release pipeline must not publish a dataset with zero documents
    # (and 0/0 must not crash the CI job that decides that).
    dup_rate = n_dup / n_docs if n_docs else 0.0
    qfail_rate = n_qfail / n_docs if n_docs else 0.0
    ok = (n_docs > 0 and dup_rate <= GATE_MAX_DUP_RATE
          and qfail_rate <= GATE_MAX_QFAIL_RATE and n_leak == 0)
    return spark.createDataFrame(
        [(n_docs, n_dup, n_qfail, n_leak, dup_rate, qfail_rate, ok)],
        "n_docs bigint, n_dup_pairs bigint, n_quality_fail bigint, "
        "n_leak_pairs bigint, dup_rate double, qfail_rate double, "
        "release_ok boolean")


def _lift_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT doc_id, y, {p} AS p FROM f),
    deciled AS (
      SELECT y, NTILE(10) OVER (ORDER BY p DESC, doc_id) AS decile
      FROM sc
    ), cells AS (
      SELECT decile,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n_pos
      FROM deciled GROUP BY decile
    ), tot AS (
      SELECT SUM(n_pos) AS tp, SUM(n_docs) AS td FROM cells
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           (CAST(n_pos AS DOUBLE) / n_docs)
             / (CAST((SELECT tp FROM tot) AS DOUBLE)
                / (SELECT td FROM tot)) AS lift
    FROM cells
    """


@query("q_ml_lift", oracle=_lift_oracle(), tags=("L6e", "ml-eval"))
def q_ml_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIFT TABLE for the trained quality gate: documents ranked by
    fitted score into deciles ((p DESC, doc_id) total order), each
    decile's positive rate relative to the base rate — the gains view
    that tells a curator how sharply the model CONCENTRATES the
    positives (top-decile lift ≫ 1 ⇒ score-ranked selection buys a lot
    over random), complementing q_ml_eval's single-threshold matrix.
    The ntile runs over the scored DOC relation; counts are integers;
    lift is two IEEE divisions from exact counts."""
    from pyspark.sql import Window

    sc = quality_scores(spark, sf_dir).select("doc_id", "y", "p")
    wd = Window.orderBy(F.col("p").desc(), "doc_id")
    deciled = sc.select("y", F.ntile(10).over(wd).alias("decile"))
    cells = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("n_pos"))
    tot = cells.agg(F.sum("n_pos").alias("tp"),
                    F.sum("n_docs").alias("td"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(F.col("decile").cast("int").alias("decile"),
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("n_pos").cast("bigint").alias("n_pos"),
                ((F.col("n_pos").cast("double") / F.col("n_docs"))
                 / (F.col("tp").cast("double") / F.col("td")))
                .alias("lift"))
    )


# ---- Model calibration report (L6k) -----------------------------------------

CAL_BINS = 10


def _calibration_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    binned AS (
      SELECT LEAST(CAST(floor(p * {CAL_BINS}) AS INTEGER),
                   {CAL_BINS - 1}) AS bin, y, p
      FROM sc
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(
             CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS DECIMAL(18,6)) AS DOUBLE) AS mean_predicted,
           CAST(CAST(SUM(y) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE)
             AS observed_rate,
           CAST(CAST(
             abs(CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 - SUM(y) / COUNT(*))
             AS DECIMAL(18,6)) AS DOUBLE) AS calibration_gap
    FROM binned
    GROUP BY bin
    """


@query("q_ml_calibration", oracle=_calibration_oracle(),
       tags=("L6k", "ml-eval", "calibration"))
def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION REPORT (reliability table): the fitted quality
    gate's predicted probabilities bucketed into {CAL_BINS} equal-width
    bins, each reporting mean predicted probability vs observed label
    rate and the absolute gap — the per-bin decomposition of expected
    calibration error (ECE = n-weighted mean of the gap column). The
    eval family's missing member: q_ml_eval says whether the gate
    CLASSIFIES well at its threshold, this says whether its SCORES mean
    what they claim — the property that decides if a score can be used
    as a sampling weight or a review-queue priority rather than just a
    rank.

    Same trained weights as q_pipeline_quality_model/q_ml_eval (the
    shared _gd_ctes_and_p oracle core — the three oracles cannot train
    different models), one scoring pass, one {CAL_BINS}-row hash
    aggregate. Scores are 6-dp-quantized BEFORE binning, so bin
    membership is engine-exact; per-bin means quantize after their
    division."""
    from ..compat import QDEC

    scored = quality_scores(spark, sf_dir).select("y", "p")
    binned = scored.select(
        F.least(F.floor(F.col("p") * CAL_BINS).cast("int"),
                F.lit(CAL_BINS - 1)).alias("bin"),
        "y", "p")
    n = F.count(F.lit(1))
    mean_p = F.sum(F.col("p").cast(QDEC)).cast("double") / n
    obs = F.sum("y") / n
    return binned.groupBy("bin").agg(
        n.cast("bigint").alias("n"),
        mean_p.cast(QDEC).cast("double").alias("mean_predicted"),
        obs.cast(QDEC).cast("double").alias("observed_rate"),
        F.abs(mean_p - obs).cast(QDEC).cast("double")
        .alias("calibration_gap"))


# ---- Exact AUC via the rank-sum identity (L6l) --------------------------------


def _auc_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    per_value AS (
      SELECT p,
             SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS c0
      FROM sc GROUP BY p
    ),
    pref AS (
      SELECT c1, c0,
             COALESCE(SUM(c0) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c0_less
      FROM per_value
    ),
    agg AS (
      SELECT SUM(c1 * (2 * c0_less + c0)) AS u2,
             SUM(c1) AS n_pos, SUM(c0) AS n_neg
      FROM pref
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(u2 AS BIGINT) AS u2,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(CAST(
                  CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg)
                  AS DECIMAL(18,6)) AS DOUBLE) END AS auc
    FROM agg
    """


@query("q_ml_auc", oracle=_auc_oracle(), tags=("L6l", "ml-eval", "auc"))
def q_ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT AUC-ROC of the fitted quality gate via the rank-sum
    identity AUC = U/(n₁n₀) — threshold-free ranking quality, the
    number that survives when the decision point moves (q_ml_eval is
    one threshold; q_ml_lift is deciles; this is the whole curve in one
    scalar). Ties at equal scores earn half credit (midrank), exactly
    the A44 tie discipline; the doubled statistic 2U stays INTEGER end
    to end, so the only float op is the final division.

    Shape: the same scored relation as the rest of the model-eval
    family (shared _gd_ctes_and_p core), collapsed to DISTINCT score
    values with per-class counts, one prefix-sum window over the
    value-cardinality-bounded relation, one fold. No per-row ranking of
    the corpus anywhere — the Mann-Whitney trick applied to model
    evaluation, which is what makes exact AUC computable at corpus
    scale without a global sort of scores."""
    from pyspark.sql import Window

    from ..compat import QDEC

    scored = quality_scores(spark, sf_dir).select("y", "p")
    per_value = scored.groupBy("p").agg(
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).alias("c0"))
    wv = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    pref = per_value.select(
        "c1", "c0",
        F.coalesce(F.sum("c0").over(wv), F.lit(0)).alias("c0_less"))
    agg = pref.agg(
        F.sum(F.col("c1") * (2 * F.col("c0_less") + F.col("c0")))
        .alias("u2"),
        F.sum("c1").alias("n_pos"), F.sum("c0").alias("n_neg"))
    n1, n0, u2 = F.col("n_pos"), F.col("n_neg"), F.col("u2")
    auc = u2.cast("double") / (2.0 * n1 * n0)
    return agg.select(
        n1.cast("bigint").alias("n_pos"), n0.cast("bigint").alias("n_neg"),
        u2.cast("bigint").alias("u2"),
        F.when((n1 == 0) | (n0 == 0), F.lit(None).cast("double"))
        .otherwise(auc.cast(QDEC).cast("double")).alias("auc"))


# ---- Precision-recall curve (L6m) --------------------------------------------


def _pr_curve_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    per_value AS (
      SELECT p,
             SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS c0
      FROM sc GROUP BY p
    ),
    cum AS (
      SELECT p,
             SUM(c1) OVER (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c0) OVER (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             SUM(c1) OVER () AS n_pos
      FROM per_value
    )
    SELECT CAST(p AS DOUBLE) AS threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(CAST(CAST(tp AS DOUBLE) / (tp + fp) AS DECIMAL(18,6))
                AS DOUBLE) AS precision,
           CASE WHEN n_pos = 0 THEN NULL
                ELSE CAST(CAST(CAST(tp AS DOUBLE) / n_pos
                     AS DECIMAL(18,6)) AS DOUBLE) END AS recall,
           CASE WHEN n_pos = 0 OR tp = 0 THEN NULL
                ELSE CAST(CAST(
                  2.0 * CAST(tp AS DOUBLE)
                  / (CAST(tp + fp AS DOUBLE) + n_pos)
                  AS DECIMAL(18,6)) AS DOUBLE) END AS f1
    FROM cum
    """


@query("q_ml_pr_curve", oracle=_pr_curve_oracle(),
       tags=("L6m", "ml-eval", "pr-curve"))
def q_ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION-RECALL CURVE of the fitted quality gate: one point per
    DISTINCT score (threshold = "predict positive at p >= t"), with
    precision, recall, and F1 — the threshold-SWEEP view the eval
    family needs between q_ml_eval (one operating point) and q_ml_auc
    (the rank scalar): it is how the operating threshold gets CHOSEN,
    and on imbalanced corpora it is more honest than ROC (precision
    collapses where ROC still looks fine). F1 folds to
    2·tp/((tp+fp)+n_pos) so the expression never divides by a
    quantized intermediate.

    Shape: the L6l discipline verbatim — shared _gd_ctes_and_p scoring
    core (the curve cannot be drawn for a different model than the one
    deployed), collapse to distinct scores with per-class counts, ONE
    cumulative window over the value-cardinality-bounded relation. No
    per-row ranking of the corpus."""
    from pyspark.sql import Window

    from ..compat import QDEC

    scored = quality_scores(spark, sf_dir).select("y", "p")
    per_value = scored.groupBy("p").agg(
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).alias("c0"))
    wc = Window.orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_value.select(
        "p",
        F.sum("c1").over(wc).alias("tp"),
        F.sum("c0").over(wc).alias("fp"),
        F.sum("c1").over(wall).alias("n_pos"))
    tp, fp, n_pos = F.col("tp"), F.col("fp"), F.col("n_pos")
    null_d = F.lit(None).cast("double")
    return cum.select(
        F.col("p").cast("double").alias("threshold"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        (tp.cast("double") / (tp + fp)).cast(QDEC).cast("double")
        .alias("precision"),
        F.when(n_pos == 0, null_d)
        .otherwise((tp.cast("double") / n_pos).cast(QDEC).cast("double"))
        .alias("recall"),
        F.when((n_pos == 0) | (tp == 0), null_d)
        .otherwise((2.0 * tp.cast("double")
                    / ((tp + fp).cast("double") + n_pos))
                   .cast(QDEC).cast("double")).alias("f1"))


# ---- Brier score + Murphy decomposition (L6n) --------------------------------


def _brier_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS obar,
             CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(18,9)))
                  AS DOUBLE) AS sq_sum
      FROM sc
    ),
    bins AS (
      SELECT LEAST(CAST(floor(p * {CAL_BINS}) AS INTEGER),
                   {CAL_BINS - 1}) AS bin,
             COUNT(*) AS n_b,
             CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS pbar,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS obar_b
      FROM sc GROUP BY 1
    ),
    decomp AS (
      SELECT
        CAST(SUM(CAST(n_b * (pbar - obar_b) * (pbar - obar_b)
             AS DECIMAL(18,9))) AS DOUBLE) AS rel_sum,
        CAST(SUM(CAST(n_b * (obar_b - (SELECT obar FROM g))
                      * (obar_b - (SELECT obar FROM g))
             AS DECIMAL(18,9))) AS DOUBLE) AS res_sum
      FROM bins
    )
    SELECT CAST(g.n AS BIGINT) AS n,
           CAST(CAST(g.sq_sum / g.n AS DECIMAL(18,6)) AS DOUBLE)
             AS brier,
           CAST(CAST(d.rel_sum / g.n AS DECIMAL(18,6)) AS DOUBLE)
             AS reliability,
           CAST(CAST(d.res_sum / g.n AS DECIMAL(18,6)) AS DOUBLE)
             AS resolution,
           CAST(CAST(g.obar * (1.0 - g.obar) AS DECIMAL(18,6))
                AS DOUBLE) AS uncertainty,
           CAST(CAST(g.sq_sum / g.n
                     - (d.rel_sum / g.n - d.res_sum / g.n
                        + g.obar * (1.0 - g.obar))
                AS DECIMAL(18,6)) AS DOUBLE) AS decomposition_gap
    FROM g, decomp d
    """


@query("q_ml_brier", oracle=_brier_oracle(),
       tags=("L6n", "ml-eval", "brier"))
def q_ml_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the MURPHY DECOMPOSITION: mean squared error of
    the fitted gate's probabilities, split over the {CAL_BINS}
    calibration bins into reliability (miscalibration — lower better),
    resolution (how far bin outcomes stray from the base rate — higher
    better), and uncertainty (the base rate's own variance, the
    no-skill floor). The decomposition answers what a bare ECE or AUC
    cannot: whether a bad score comes from MISCALIBRATED probabilities
    (recalibrate — cheap) or from NO resolution (retrain — expensive).
    The textbook identity BS = REL − RES + UNC holds exactly only when
    forecasts are constant within bins, so the residual is REPORTED as
    decomposition_gap rather than silently absorbed.

    Shape: one scoring pass (shared _gd_ctes_and_p core — same model
    as the rest of the eval family), one global + one {CAL_BINS}-row
    aggregate; every squared term 9-dp-quantized pre-sum, outputs 6-dp
    after their single division."""
    from ..compat import QDEC

    scored = quality_scores(spark, sf_dir).select("y", "p")
    g = scored.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("obar"),
        F.sum(((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
              .cast("decimal(18,9)")).cast("double").alias("sq_sum"))
    bins = (scored.groupBy(
        F.least(F.floor(F.col("p") * CAL_BINS).cast("int"),
                F.lit(CAL_BINS - 1)).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_b"),
             (F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
              / F.count(F.lit(1))).alias("pbar"),
             (F.sum("y").cast("double") / F.count(F.lit(1)))
             .alias("obar_b")))
    decomp = (bins.crossJoin(F.broadcast(g.select("obar"))).agg(
        F.sum((F.col("n_b") * (F.col("pbar") - F.col("obar_b"))
               * (F.col("pbar") - F.col("obar_b")))
              .cast("decimal(18,9)")).cast("double").alias("rel_sum"),
        F.sum((F.col("n_b") * (F.col("obar_b") - F.col("obar"))
               * (F.col("obar_b") - F.col("obar")))
              .cast("decimal(18,9)")).cast("double").alias("res_sum")))
    out = g.crossJoin(F.broadcast(decomp))
    n = F.col("n")
    brier = F.col("sq_sum") / n
    rel = F.col("rel_sum") / n
    res = F.col("res_sum") / n
    unc = F.col("obar") * (1.0 - F.col("obar"))
    return out.select(
        n.cast("bigint").alias("n"),
        brier.cast(QDEC).cast("double").alias("brier"),
        rel.cast(QDEC).cast("double").alias("reliability"),
        res.cast(QDEC).cast("double").alias("resolution"),
        unc.cast(QDEC).cast("double").alias("uncertainty"),
        (brier - (rel - res + unc)).cast(QDEC).cast("double")
        .alias("decomposition_gap"))


# ---- Model score separation (KS) (L6o) -------------------------------------


def _ml_ks_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    per_score AS (
      SELECT p,
             SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS c_pos,
             SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS c_neg
      FROM sc GROUP BY p
    ),
    cum AS (
      SELECT SUM(c_pos) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
             SUM(c_neg) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_neg,
             SUM(c_pos) OVER () AS n_pos,
             SUM(c_neg) OVER () AS n_neg
      FROM per_score
    )
    SELECT CAST(MAX(n_pos) AS BIGINT) AS n_pos,
           CAST(MAX(n_neg) AS BIGINT) AS n_neg,
           CAST(MAX(abs(n_neg * cum_pos - n_pos * cum_neg)) AS BIGINT)
             AS d_num,
           CASE WHEN MAX(n_pos) = 0 OR MAX(n_neg) = 0 THEN NULL
                ELSE CAST(MAX(abs(n_neg * cum_pos - n_pos * cum_neg))
                          AS DOUBLE) / (MAX(n_pos) * MAX(n_neg)) END
             AS ks_separation
    FROM cum
    """


@query("q_ml_ks", oracle=_ml_ks_oracle(), tags=("L6o", "ml-eval", "ks"))
def q_ml_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS SEPARATION of the fitted quality gate's scores: the maximum
    gap between the positive-class and negative-class score CDFs — the
    credit-scoring industry's standard single-number discrimination
    metric (KS ≈ 0: the model can't tell classes apart at any cutoff;
    the argmax score is the natural operating threshold). Completes
    the model-eval family: AUC (rank quality), PR curve (imbalanced
    view), Brier (calibration+sharpness), lift (business read), KS
    (best-single-threshold separation). Same trained model as all of
    them (shared GD builder — oracles can never train apart).

    Q13's integer-ECDF discipline on the SCORE axis: the model's
    quantized scores collapse to the distinct-score grain, one prefix
    window over that bounded relation, and the gap numerator
    |n_neg·cumP − n_pos·cumN| stays exact bigint; the statistic is one
    IEEE division of exact integers."""
    sc = quality_scores(spark, sf_dir).select("y", "p")
    per_score = sc.groupBy("p").agg(
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(F.col("y") == 1.0, 0).otherwise(1)).alias("c_neg"))
    wcum = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_score.select(
        F.sum("c_pos").over(wcum).alias("cum_pos"),
        F.sum("c_neg").over(wcum).alias("cum_neg"),
        F.sum("c_pos").over(wall).alias("n_pos"),
        F.sum("c_neg").over(wall).alias("n_neg"))
    d = F.abs(F.col("n_neg") * F.col("cum_pos")
              - F.col("n_pos") * F.col("cum_neg"))
    agg = cum.agg(F.max("n_pos").alias("n_pos"),
                  F.max("n_neg").alias("n_neg"),
                  F.max(d).alias("d_num"))
    return agg.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.col("d_num").cast("bigint").alias("d_num"),
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0),
               F.lit(None).cast("double"))
        .otherwise(F.col("d_num").cast("double")
                   / (F.col("n_pos") * F.col("n_neg")))
        .alias("ks_separation"))


# ---- Model-score drift (PSI) (L6p) --------------------------------------------

SCORE_PSI_BINS = 10
SCORE_PSI_EPS = "0.0005"  # Laplace-style smoothing share per empty bin


def _score_drift_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT doc_id, {p} AS p FROM f),
    binned AS (
      SELECT doc_id % 2 AS half,
             LEAST(CAST(floor(p * {SCORE_PSI_BINS}) AS INTEGER),
                   {SCORE_PSI_BINS - 1}) AS bin
      FROM sc
    ),
    cells AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c_a,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM cells
    ),
    shares AS (
      SELECT CAST(c_a AS DOUBLE) / n_a + {SCORE_PSI_EPS} AS pa,
             CAST(c_b AS DOUBLE) / n_b + {SCORE_PSI_EPS} AS pb
      FROM cells, tot
    )
    SELECT CAST((SELECT n_a FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT n_b FROM tot) AS BIGINT) AS n_b,
           CAST(CAST(SUM(CAST((pa - pb) * ln(pa / pb)
                               AS DECIMAL(18,9))) AS DECIMAL(18,9))
                AS DOUBLE) AS psi
    FROM shares
    """


@query("q_ml_score_drift", oracle=_score_drift_oracle(),
       tags=("L6p", "ml-eval", "monitoring"))
def q_ml_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-SCORE PSI between two population halves (doc_id parity —
    the stand-in for "training week vs serving week"): the score
    distribution of the SAME fitted quality gate, binned into
    {SCORE_PSI_BINS} fixed probability buckets, compared by population
    stability index Σ(p_a−p_b)·ln(p_a/p_b). This is the model-eval
    family's MONITORING member: AUC/KS/Brier say how good the model
    was at fit time, score PSI says whether the population it scores
    has moved out from under it (PSI > 0.2 = retrain signal). Same
    smoothing posture as the feature-PSI screen (additive
    {SCORE_PSI_EPS} per bin so an empty bucket never divides by zero).

    Scale: the scoring pass is one map over docs; everything after is
    a ≤{SCORE_PSI_BINS}-row relation. Each PSI term is quantized at
    9 dp before the final sum, so engine summation order is moot."""
    sc = quality_scores(spark, sf_dir).select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("half"), "p")
    binned = sc.select(
        "half",
        F.least(F.floor(F.col("p") * SCORE_PSI_BINS).cast("int"),
                F.lit(SCORE_PSI_BINS - 1)).alias("bin"))
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_b"))
    tot = cells.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    eps = F.lit(float(SCORE_PSI_EPS))
    shares = cells.crossJoin(F.broadcast(tot)).select(
        "n_a", "n_b",
        (F.col("c_a").cast("double") / F.col("n_a") + eps).alias("pa"),
        (F.col("c_b").cast("double") / F.col("n_b") + eps).alias("pb"))
    term = ((F.col("pa") - F.col("pb"))
            * F.log(F.col("pa") / F.col("pb"))).cast("decimal(18,9)")
    return shares.groupBy("n_a", "n_b").agg(
        F.sum(term).cast("decimal(18,9)").cast("double").alias("psi")
    ).select(F.col("n_a").cast("bigint").alias("n_a"),
             F.col("n_b").cast("bigint").alias("n_b"), "psi")


# ---- Matthews correlation / Cohen's kappa / balanced accuracy (L6q) --------


def _mcc_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    thr AS (
      SELECT CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        AS thr
      FROM sc
    ),
    cm AS (
      SELECT
        CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr) AND y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN p >= (SELECT thr FROM thr) AND y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN p < (SELECT thr FROM thr) AND y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN p < (SELECT thr FROM thr) AND y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN (tp + fp) * (tp + fn) = 0
                  OR (tn + fp) * (tn + fn) = 0 THEN NULL
                ELSE CAST(CAST(
                  (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                  / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE)
                    + fn) * (CAST(tn AS DOUBLE) + fp)
                    * (CAST(tn AS DOUBLE) + fn))
                  AS DECIMAL(18,6)) AS DOUBLE) END AS mcc,
           CASE WHEN (tp + fp = 0 AND tp + fn = 0)
                  OR (fn + tn = 0 AND fp + tn = 0) THEN NULL
           ELSE CAST(CAST(
             (CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
              - ((CAST(tp AS DOUBLE) + fp) * (tp + fn)
                 + (CAST(fn AS DOUBLE) + tn) * (fp + tn))
                / (CAST(tp + fp + fn + tn AS DOUBLE)
                   * (tp + fp + fn + tn)))
             / (1.0 - ((CAST(tp AS DOUBLE) + fp) * (tp + fn)
                       + (CAST(fn AS DOUBLE) + tn) * (fp + tn))
                  / (CAST(tp + fp + fn + tn AS DOUBLE)
                     * (tp + fp + fn + tn)))
             AS DECIMAL(18,6)) AS DOUBLE) END AS kappa,
           CASE WHEN tp + fn = 0 OR tn + fp = 0 THEN NULL
           ELSE CAST(CAST(
             0.5 * (CAST(tp AS DOUBLE) / (tp + fn)
                    + CAST(tn AS DOUBLE) / (tn + fp))
             AS DECIMAL(18,6)) AS DOUBLE) END AS balanced_accuracy
    FROM cm
    """


@query("q_ml_mcc", oracle=_mcc_oracle(), tags=("L6q", "ml-eval", "mcc"))
def q_ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION + COHEN'S KAPPA + BALANCED ACCURACY of the
    fitted quality gate at its shipped threshold — the three
    chance-corrected summaries that stay honest under class imbalance,
    where q_ml_eval's raw accuracy can be beaten by the constant
    classifier (predict the majority class and accuracy equals the
    prior). MCC is the ±1-bounded correlation of the prediction/label
    contingency (high only when ALL four cells are right), kappa is
    agreement above the chance the marginals alone produce, balanced
    accuracy is the mean of the two per-class recalls. Reading the
    three together routes the failure: low MCC + high accuracy =
    imbalance artifact; low kappa + high MCC = marginal mismatch.

    Same fitted weights, scored relation, and mean-score threshold as
    q_ml_eval (one builder, models can never drift apart); everything
    downstream of the four integer confusion counts is closed-form —
    products computed in DOUBLE (exact-int inputs, correctly-rounded
    mul; never bigint-overflowing at 100 TB counts), one quantized
    division each; MCC NULL on a degenerate margin instead of a
    divide-by-zero."""
    scored = share(quality_scores(spark, sf_dir).select("y", "p"))
    thr = scored.agg(
        (F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1))).alias("thr"))
    pos = F.col("p") >= F.col("thr")
    y1 = F.col("y") == 1.0
    cm = scored.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when(pos & y1, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pos & ~y1, 1).otherwise(0)).cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pos & y1, 1).otherwise(0)).cast("bigint")
        .alias("fn"),
        F.sum(F.when(~pos & ~y1, 1).otherwise(0)).cast("bigint")
        .alias("tn"))
    return mcc_kappa_summary(cm)


def mcc_kappa_summary(cm: DataFrame) -> DataFrame:
    """Closed-form MCC / kappa / balanced-accuracy select over a 1-row
    confusion relation (tp/fp/fn/tn bigint) — module-level so the
    degenerate-table guards are property-testable on crafted
    confusions, not just the fitted model's (tests/test_properties_r13)."""
    tp, fp, fn, tn = (F.col(c).cast("double")
                      for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    po = (tp + tn) / n
    mcc = ((tp * tn - fp * fn)
           / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)))
    degenerate = (((F.col("tp") + F.col("fp"))
                   * (F.col("tp") + F.col("fn")) == 0)
                  | ((F.col("tn") + F.col("fp"))
                     * (F.col("tn") + F.col("fn")) == 0))
    # kappa's guard is STRICTLY NARROWER than MCC's: pe = 1 (kappa's
    # 0/0) only when prediction and label are constant AND AGREE (all
    # mass in tn: both all-negative, or all mass in tp: both
    # all-positive), whereas MCC's sqrt denominator vanishes when
    # EITHER margin is constant. An all-positive classifier against
    # varying labels (fn = tn = 0) has pe < 1 and kappa ≈ 0 — exactly
    # the imbalance artifact this op exists to expose — and even the
    # constant-but-DISAGREEING table (predict all negative on
    # all-positive labels: fn = n) has pe = 0, kappa = 0 well defined
    # (r12 advice: the pred_const AND label_const form over-masked it).
    all_tn = (F.col("tp") + F.col("fp") == 0) \
        & (F.col("tp") + F.col("fn") == 0)
    all_tp = (F.col("fn") + F.col("tn") == 0) \
        & (F.col("fp") + F.col("tn") == 0)
    pe_one = all_tn | all_tp
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(mcc.cast("decimal(18,6)").cast("double")).alias("mcc"),
        F.when(pe_one, F.lit(None).cast("double"))
        .otherwise(((po - pe) / (1.0 - pe))
                   .cast("decimal(18,6)").cast("double")).alias("kappa"),
        F.when((F.col("tp") + F.col("fn") == 0)
               | (F.col("tn") + F.col("fp") == 0),
               F.lit(None).cast("double"))
        .otherwise((0.5 * (tp / (tp + fn) + tn / (tn + fp)))
                   .cast("decimal(18,6)").cast("double"))
        .alias("balanced_accuracy"))


# ---- Log-loss (cross-entropy) evaluation (L6r) ------------------------------

LOGLOSS_EPS = "0.000001"  # clip bound, exactly representable on the 6-dp grid


def _logloss_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (
      SELECT y,
             least(greatest({p}, {LOGLOSS_EPS}),
                   1.0 - {LOGLOSS_EPS}) AS p
      FROM f
    ),
    terms AS (
      SELECT y,
             CAST(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))
                  AS DECIMAL(27,9)) AS t
      FROM sc
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(y) AS npos,
             CAST(SUM(t) AS DOUBLE) AS sll
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(npos AS BIGINT) AS n_pos,
           CAST(CAST(sll / n AS DECIMAL(18,6)) AS DOUBLE) AS logloss,
           CASE WHEN npos = 0 OR npos = n THEN NULL
           ELSE CAST(CAST(
             -(CAST(npos AS DOUBLE) / n)
               * CAST(CAST(ln(CAST(npos AS DOUBLE) / n)
                 AS DECIMAL(18,9)) AS DOUBLE)
             - (1.0 - CAST(npos AS DOUBLE) / n)
               * CAST(CAST(ln(1.0 - CAST(npos AS DOUBLE) / n)
                 AS DECIMAL(18,9)) AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) END AS logloss_prior,
           CASE WHEN npos = 0 OR npos = n THEN NULL
           ELSE CAST(CAST(1.0 - (sll / n)
             / (-(CAST(npos AS DOUBLE) / n)
                  * CAST(CAST(ln(CAST(npos AS DOUBLE) / n)
                    AS DECIMAL(18,9)) AS DOUBLE)
                - (1.0 - CAST(npos AS DOUBLE) / n)
                  * CAST(CAST(ln(1.0 - CAST(npos AS DOUBLE) / n)
                    AS DECIMAL(18,9)) AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS skill
    FROM agg
    """


@query("q_ml_logloss", oracle=_logloss_oracle(),
       tags=("L6r", "ml-eval", "logloss"))
def q_ml_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-LOSS (cross-entropy) of the fitted quality gate's
    probabilities against the weak labels, with the PRIOR log-loss (the
    best constant predictor) and the skill score 1 − LL/LL_prior — the
    proper scoring rule that punishes CONFIDENT wrongness
    exponentially, where Brier (L6n) punishes it quadratically; the
    metric that actually orders probabilistic models for downstream
    mixing weights. Probabilities clipped to [{LOGLOSS_EPS},
    1−{LOGLOSS_EPS}] (on the 6-dp score grid, so the clip is
    engine-identical) — one mislabeled p=1.0 otherwise scores −ln(0)
    and poisons the mean.

    Same fitted weights as the L6 eval family (one builder). Per-row
    −[y·ln p + (1−y)·ln(1−p)] terms pass through libm, so each is
    9-dp-quantized BEFORE the order-insensitive decimal sum (compat
    rule 2); the prior term's two ln calls are quantized at 9 dp then
    assembled in exact IEEE; three final divisions, 6 dp."""
    eps = float(LOGLOSS_EPS)
    p = F.least(F.greatest(F.col("p"), F.lit(eps)), F.lit(1.0 - eps))
    t = (-(F.col("y") * F.log(F.col("p"))
           + (1.0 - F.col("y")) * F.log(1.0 - F.col("p")))) \
        .cast("decimal(27,9)")
    sc = quality_scores(spark, sf_dir).select("y", p.alias("p"))
    agg = sc.select("y", t.alias("t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("npos"),
        F.sum("t").cast("double").alias("sll"))
    n = F.col("n")
    rate = F.col("npos").cast("double") / n
    lnr = F.log(rate).cast("decimal(18,9)").cast("double")
    lnr1 = F.log(1.0 - rate).cast("decimal(18,9)").cast("double")
    prior = -rate * lnr - (1.0 - rate) * lnr1
    ll = F.col("sll") / n
    # Constant label (rate 0 or 1): the prior predictor is perfect,
    # ln(0) is undefined, and the skill ratio divides by zero — NULL.
    const_label = (F.col("npos") == 0) | (F.col("npos") == n)
    return agg.select(
        n.cast("bigint").alias("n_docs"),
        F.col("npos").cast("bigint").alias("n_pos"),
        ll.cast("decimal(18,6)").cast("double").alias("logloss"),
        F.when(const_label, F.lit(None).cast("double"))
        .otherwise(prior.cast("decimal(18,6)").cast("double"))
        .alias("logloss_prior"),
        F.when(const_label, F.lit(None).cast("double"))
        .otherwise((1.0 - ll / prior).cast("decimal(18,6)")
                   .cast("double")).alias("skill"))


# ---- Operating-point chooser (L6s) -------------------------------------------


def _op_point_oracle() -> str:
    ctes, p = _gd_ctes_and_p()
    return f"""
    WITH {', '.join(ctes)},
    sc AS (SELECT y, {p} AS p FROM f),
    per_value AS (
      SELECT p,
             SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS c0
      FROM sc GROUP BY p
    ),
    cum AS (
      SELECT p,
             SUM(c1) OVER (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c0) OVER (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             SUM(c1) OVER () AS n_pos,
             SUM(c0) OVER () AS n_neg
      FROM per_value
    ),
    scoredpts AS (
      SELECT p, tp, fp, n_pos - tp AS fn, n_neg - fp AS tn,
             CASE WHEN n_pos = 0 OR tp = 0 THEN NULL
                  ELSE CAST(CAST(2.0 * CAST(tp AS DOUBLE)
                       / (CAST(tp + fp AS DOUBLE) + n_pos)
                       AS DECIMAL(18,6)) AS DOUBLE) END AS f1,
             CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                  ELSE CAST(CAST(CAST(tp AS DOUBLE) / n_pos
                       - CAST(fp AS DOUBLE) / n_neg
                       AS DECIMAL(18,6)) AS DOUBLE) END AS youden_j
      FROM cum
    )
    SELECT criterion, CAST(p AS DOUBLE) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           f1, youden_j
    FROM (
      SELECT 'max_f1' AS criterion, s.*,
             ROW_NUMBER() OVER (ORDER BY COALESCE(f1, -1.0) DESC,
                                p DESC) AS rn
      FROM scoredpts s
      UNION ALL
      SELECT 'max_youden' AS criterion, s.*,
             ROW_NUMBER() OVER (ORDER BY COALESCE(youden_j, -1.0) DESC,
                                p DESC) AS rn
      FROM scoredpts s
    ) ranked
    WHERE rn = 1
    """


@query("q_ml_operating_point", oracle=_op_point_oracle(),
       tags=("L6s", "ml-eval", "operating-point"))
def q_ml_operating_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATING-POINT CHOOSER for the fitted quality gate: the
    max-F1 threshold (the precision/recall compromise a curation
    pipeline ships) and the max-Youden-J threshold (tpr − fpr, the
    prevalence-free screening point) — the two standard answers to
    "WHERE on L6m's curve do we actually cut?", computed from the same
    distinct-score sweep so the chosen thresholds are actual observed
    scores, not grid points. q_ml_eval scores the mean-threshold
    convention; this op says what the threshold SHOULD be and what
    confusion it buys (full tp/fp/fn/tn at each winner).

    Ties break toward the HIGHER threshold (the conservative cut that
    admits fewer positives) — a total order, both engines. The sweep
    relation is the L6m distinct-score collapse (value-cardinality-
    bounded, one cumulative window, no per-row corpus ranking); the
    two argmax picks are row_number over that bounded relation."""
    from pyspark.sql import Window

    from ..compat import QDEC

    scored = quality_scores(spark, sf_dir).select("y", "p")
    per_value = scored.groupBy("p").agg(
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).alias("c0"))
    wc = Window.orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    cum = per_value.select(
        "p",
        F.sum("c1").over(wc).alias("tp"),
        F.sum("c0").over(wc).alias("fp"),
        F.sum("c1").over(wall).alias("n_pos"),
        F.sum("c0").over(wall).alias("n_neg"))
    tp, fp = F.col("tp"), F.col("fp")
    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    null_d = F.lit(None).cast("double")
    pts = cum.select(
        "p", tp.alias("tp"), fp.alias("fp"),
        (n_pos - tp).alias("fn"), (n_neg - fp).alias("tn"),
        F.when((n_pos == 0) | (tp == 0), null_d)
        .otherwise((2.0 * tp.cast("double")
                    / ((tp + fp).cast("double") + n_pos))
                   .cast(QDEC).cast("double")).alias("f1"),
        F.when((n_pos == 0) | (n_neg == 0), null_d)
        .otherwise((tp.cast("double") / n_pos
                    - fp.cast("double") / n_neg)
                   .cast(QDEC).cast("double")).alias("youden_j"))
    out = None
    for crit, col in (("max_f1", "f1"), ("max_youden", "youden_j")):
        rn = F.row_number().over(Window.orderBy(
            F.coalesce(F.col(col), F.lit(-1.0)).desc(),
            F.col("p").desc()))
        pick = (pts.withColumn("rn", rn).where(F.col("rn") == 1)
                .select(F.lit(crit).alias("criterion"),
                        F.col("p").cast("double").alias("threshold"),
                        F.col("tp").cast("bigint").alias("tp"),
                        F.col("fp").cast("bigint").alias("fp"),
                        F.col("fn").cast("bigint").alias("fn"),
                        F.col("tn").cast("bigint").alias("tn"),
                        "f1", "youden_j"))
        out = pick if out is None else out.unionByName(pick)
    return out
