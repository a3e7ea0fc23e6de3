"""Document deduplication (SURVEY.md §2.11 L1): exact, MinHash-LSH,
n-gram Jaccard, SimHash.

North-star operators for a training-data pipeline (BASELINE.json mandate).
Scale design — the entire family avoids O(n²) comparisons:

- **Exact**: hash → groupBy — one shuffle keyed by digest; at 100 TB the
  shuffle carries (digest, doc_id), never the text.
- **MinHash-LSH**: shingle → k hash-mins (one pass, partial-aggregated)
  → band buckets → equi-join on (band, band_hash). Only documents sharing
  a band bucket are ever paired, so candidate count tracks true-duplicate
  count, not n².
- **n-gram Jaccard** (verification stage): exact set similarity via
  array_intersect/union — used on the *candidate* pairs, or (as here, for
  oracle-checkability) on a restricted pair space.
- **SimHash**: 64-bit signed-bit-sum signature; Hamming-adjacent buckets.

Everything is built-in expressions (split, xxhash64, explode, groupBy) —
no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io import _table_files, load
from ..kernels import collect_dense, dense_rows
from ..materialize import share
from ..registry import query
from .similarity import (EMB_DIM, UNIT_ORACLE, dot, dot_idx, normalized,
                         np_pairwise_dots, np_unit_rows)

MINHASH_K = 32          # signature length
LSH_BANDS = 8           # bands of 4 rows each -> catches jaccard >~ 0.5
SHINGLE_N = 3           # words per shingle


@query(
    "q_dedup_exact",
    oracle="""
    SELECT
      md5(text) AS text_hash,
      MIN(doc_id) AS keeper_doc_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("L1", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest → group → keep min doc_id. The shuffle key is
    the 32-byte digest, not the document text."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingles(text_col: str = "text", n: int = SHINGLE_N) -> Column:
    """Distinct n-word shingle STRINGS (not hashes) for a document."""
    toks = tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))


def shingles_oracle(src: str = "documents", key: str = "doc_id") -> str:
    """DuckDB CTE bodies of _shingles over a relation ``src`` with
    (``key``, text): ``toks`` (key, t = its non-empty words) and ``sh``
    (key, shingle), one row per distinct SHINGLE_N-word shingle of each
    row. Plain SQL, written apart from the Spark code."""
    return f"""
    toks AS (
      SELECT {key}, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM {src}
    ), sh AS (
      SELECT {key},
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {SHINGLE_N}, 0) + 2),
               i -> array_to_string(list_slice(t, i, i + {SHINGLE_N - 1}),
                                    ' ')))) AS shingle
      FROM toks
    )"""


def shingle_hashes(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle_hash) pairs: n-word shingles hashed to int64.

    Shingle construction is shared with the md5 family (``_shingles`` —
    one property-tested copy of the index arithmetic); a per-row array
    op, no window/sort needed, so it parallelizes embarrassingly.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingles(text_col, n)).alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("shingle_hash"))


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sig: array<bigint>[k]) MinHash signatures.

    The k hash functions are xxhash64(shingle_hash, seed_i); each min is a
    partial-aggregatable agg, so the signature pass is one map + one
    shuffle of k longs per doc.
    """
    sh = shingle_hashes(docs)
    mins = [
        F.min(F.xxhash64(F.col("shingle_hash"), F.lit(i))).alias(f"m{i}")
        for i in range(k)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"m{i}" for i in range(k)]).alias("sig")
    )


def lsh_candidate_pairs(sig: DataFrame, bands: int = LSH_BANDS,
                        k: int = MINHASH_K) -> DataFrame:
    """(a_doc_id, b_doc_id) candidates sharing ≥1 LSH band bucket."""
    r = k // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(j).alias("band_idx"),
            F.xxhash64(*[F.element_at("sig", j * r + i + 1)
                         for i in range(r)]).alias("band_hash"),
        )
        for j in range(bands)
    ])
    banded = sig.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select("doc_id", "b.band_idx", "b.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_doc_id"),
            F.col("b.doc_id").alias("b_doc_id"),
        )
        .distinct()
    )


@query("q_dedup_near", oracle=None, tags=("L1", "dedup", "rows-only"))
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with signature-estimated Jaccard ≥ 0.5.
    Rows-only: hash-family randomness is engine-specific by nature."""
    d = load(spark, sf_dir, "documents")
    # The signature relation feeds three consumers (banding + both sides
    # of the verification join); share it so the shingle explode +
    # 32-way min aggregation runs once.
    sig = share(minhash_signatures(d))
    cand = lsh_candidate_pairs(sig)
    a_sig = sig.select(F.col("doc_id").alias("a_doc_id"),
                       F.col("sig").alias("a_sig"))
    b_sig = sig.select(F.col("doc_id").alias("b_doc_id"),
                       F.col("sig").alias("b_sig"))
    est = F.aggregate(
        F.zip_with("a_sig", "b_sig",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(MINHASH_K))
    return (
        cand.join(a_sig, "a_doc_id")
        .join(b_sig, "b_doc_id")
        .select("a_doc_id", "b_doc_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.5)
    )


@query(
    "q_dedup_ngram",
    oracle="""
    SELECT
      a.doc_id AS a_doc_id,
      b.doc_id AS b_doc_id,
      len(list_distinct(list_intersect(
        list_filter(string_split(a.text, ' '), x -> x <> ''),
        list_filter(string_split(b.text, ' '), x -> x <> '')))) AS n_common,
      CAST(len(list_distinct(list_intersect(
             list_filter(string_split(a.text, ' '), x -> x <> ''),
             list_filter(string_split(b.text, ' '), x -> x <> ''))))
           AS DOUBLE)
        / (len(list_distinct(list_filter(string_split(a.text, ' '), x -> x <> '')))
           + len(list_distinct(list_filter(string_split(b.text, ' '), x -> x <> '')))
           - len(list_distinct(list_intersect(
               list_filter(string_split(a.text, ' '), x -> x <> ''),
               list_filter(string_split(b.text, ' '), x -> x <> '')))))
        AS jaccard
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    """,
    tags=("L1", "dedup"),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard on a blocked pair space (same lang+source —
    the blocking key plays the LSH-bucket role). This is the verification
    stage of near-dedup; oracle-checkable because set ops are exact."""
    d = load(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("a_doc_id"), "lang", "source",
                 F.array_distinct(tokens(F.col("text"))).alias("a_words"))
    b = d.select(F.col("doc_id").alias("b_doc_id"),
                 F.col("lang").alias("b_lang"),
                 F.col("source").alias("b_source"),
                 F.array_distinct(tokens(F.col("text"))).alias("b_words"))
    n_common = F.size(F.array_intersect("a_words", "b_words")).cast("bigint")
    union_sz = (F.size("a_words") + F.size("b_words")
                - F.size(F.array_intersect("a_words", "b_words")))
    # two EMPTY word sets are identical texts: J(∅,∅) = 1 by contract,
    # not an ANSI 0/0 crash (flat_corpus profile, r13; dead on harness)
    jaccard = F.when(union_sz == 0, F.lit(1.0)) \
        .otherwise(n_common.cast("double") / union_sz)
    return (
        a.join(
            b,
            (F.col("lang") == F.col("b_lang"))
            & (F.col("source") == F.col("b_source"))
            & (F.col("a_doc_id") < F.col("b_doc_id")),
        )
        .select("a_doc_id", "b_doc_id",
                n_common.alias("n_common"), jaccard.alias("jaccard"))
    )


# ---- LSH -> exact-Jaccard composition (the production dedup path) --------

MD5_MINHASH_K = 16      # md5-string MinHash signature length
MD5_LSH_BANDS = 4       # 4 bands of 4 rows -> catches jaccard >~ 0.5
LSH_VERIFY_JACCARD = 0.5


def md5_minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           k: int = MD5_MINHASH_K) -> DataFrame:
    """(doc_id, m0..m{k-1}) MinHash signature built from md5 HEX STRINGS:
    hash function i is ``md5(shingle || '#i')`` and the min is the
    lexicographic minimum of the hex digests.

    Engine-portable by construction — both Spark and DuckDB produce the
    same lowercase-hex md5 and the same string ordering, so (unlike the
    xxhash64 family in ``minhash_signatures``) the signature, the LSH
    buckets, and therefore the candidate-pair SET are bit-identical
    across engines. That is what makes the composed LSH->verify pipeline
    below oracle-checkable end to end. Same scale shape as the xxhash64
    path: one shingle explode, k partial-aggregated mins per doc.
    """
    assert k % 4 == 0, "k must be a multiple of 4 (4 chunks per digest)"
    n_digests = k // 4
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingles(text_col)).alias("shingle"),
    ).select(
        "doc_id",
        *[F.md5(F.concat(F.col("shingle"), F.lit(f"#{s}"))).alias(f"d{s}")
          for s in range(n_digests)],
    )
    # Four independent 32-bit hash values per digest (md5 avalanche makes
    # the 8-hex chunks independent enough for MinHash): k functions from
    # k/4 md5 calls — the md5 is the dominant cost of the signature pass
    # (measured ~2.5x on the pipeline query), and the lexicographic min
    # over fixed-width hex chunks is still engine-identical.
    mins = [
        F.min(F.substring(f"d{i // 4}", 1 + 8 * (i % 4), 8)).alias(f"m{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def md5_lsh_candidates(sig: DataFrame, bands: int = MD5_LSH_BANDS,
                       k: int = MD5_MINHASH_K) -> DataFrame:
    """(a_doc_id, b_doc_id) pairs sharing ≥1 md5-band bucket."""
    r = k // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(j).alias("band_idx"),
            F.md5(F.concat_ws(
                "|", *[f"m{j * r + i}" for i in range(r)])).alias("band_hash"),
        )
        for j in range(bands)
    ])
    # share: the band self-join consumes this relation on both sides
    # and Catalyst does not exchange-reuse aliased branches — without it
    # the minhash signature aggregation (shingle explode + md5 digests +
    # 64 min-aggs, the expensive stage) runs twice. (doc_id, band_idx,
    # 32-hex hash) × bands rows — tiny at any corpus size; same measured
    # pathology and fix as the SRP band relation.
    banded = sig.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select("doc_id", "b.band_idx", "b.band_hash")
    banded = share(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_doc_id"),
                F.col("b.doc_id").alias("b_doc_id"))
        .distinct()
    )


def lsh_verified_pairs(docs: DataFrame) -> DataFrame:
    """md5-MinHash LSH candidates verified by exact word-set Jaccard —
    the reusable production near-dedup stage (see q_dedup_lsh_verified
    for semantics/scale notes). Input needs (doc_id, text); output is
    (a_doc_id, b_doc_id, n_common, jaccard) with jaccard >= 0.5 and
    a_doc_id < b_doc_id. Engine-deterministic end to end."""
    sig = md5_minhash_signatures(docs)
    cand = md5_lsh_candidates(sig)
    # share: the verify join consumes the word-set relation on BOTH
    # sides (wa, wb) and Catalyst does not exchange-reuse aliased
    # branches — without it the corpus is tokenized twice more per
    # call. Same measured pathology and fix as the banded relation in
    # md5_lsh_candidates above. (doc_id, distinct-token array) — the
    # word-set artifact a production verify stage materializes anyway.
    words = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("w"))
    words = share(words)
    wa = words.select(F.col("doc_id").alias("a_doc_id"),
                      F.col("w").alias("wa"))
    wb = words.select(F.col("doc_id").alias("b_doc_id"),
                      F.col("w").alias("wb"))
    n_common = F.size(F.array_intersect("wa", "wb")).cast("bigint")
    # greatest(union, 1): two blank docs share the "" shingle, become a
    # candidate pair, and have empty word sets — an unguarded 0/0 would
    # throw under ANSI Spark; with the clamp their jaccard is 0 and the
    # threshold drops them.
    union = F.greatest(
        F.size("wa") + F.size("wb") - F.size(F.array_intersect("wa", "wb")),
        F.lit(1),
    )
    jaccard = n_common.cast("double") / union
    return (
        cand.join(wa, "a_doc_id")
        .join(wb, "b_doc_id")
        .select("a_doc_id", "b_doc_id",
                n_common.alias("n_common"), jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= LSH_VERIFY_JACCARD)
    )


def lsh_verified_oracle(src: str = "documents") -> str:
    """DuckDB CTE bodies of the stage lsh_verified_pairs builds, over a
    relation ``src`` with (doc_id, text): ``sig`` (the md5 MinHash
    signature), ``bands``, ``cand`` (the pairs sharing a band bucket),
    ``words``, ``scored`` (every candidate with n_common and its
    word-set jaccard) and ``verified`` (the scored pairs at jaccard >=
    LSH_VERIFY_JACCARD). Plain SQL, written apart from the Spark code."""
    r = MD5_MINHASH_K // MD5_LSH_BANDS
    digests = ",\n             ".join(
        f"md5(shingle || '#{s}') AS d{s}" for s in range(MD5_MINHASH_K // 4))
    mins = ",\n        ".join(
        f"MIN(substr(d{i // 4}, {1 + 8 * (i % 4)}, 8)) AS m{i}"
        for i in range(MD5_MINHASH_K))
    bands = "\n      UNION ALL\n      ".join(
        f"""SELECT doc_id, {j} AS band_idx,
               md5({" || '|' || ".join(f"m{j * r + i}" for i in range(r))})
                 AS band_hash FROM sig"""
        for j in range(MD5_LSH_BANDS))
    inter = "len(list_intersect(wa.w, wb.w))"
    return f"""{shingles_oracle(src)}, dig AS (
      SELECT doc_id,
             {digests}
      FROM sh
    ), sig AS (
      SELECT doc_id,
        {mins}
      FROM dig GROUP BY doc_id
    ), bands AS (
      {bands}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), words AS (
      SELECT doc_id, list_distinct(t) AS w FROM toks
    ), scored AS (
      SELECT a_doc_id, b_doc_id,
             CAST({inter} AS BIGINT) AS n_common,
             CAST({inter} AS DOUBLE)
               / greatest(len(wa.w) + len(wb.w) - {inter}, 1) AS jaccard
      FROM cand
      JOIN words wa ON wa.doc_id = a_doc_id
      JOIN words wb ON wb.doc_id = b_doc_id
    ), verified AS (
      SELECT a_doc_id, b_doc_id, n_common, jaccard
      FROM scored WHERE jaccard >= {LSH_VERIFY_JACCARD}
    )"""


@query(
    "q_dedup_lsh_verified",
    oracle=f"""
    WITH {lsh_verified_oracle()}
    SELECT a_doc_id, b_doc_id, n_common, jaccard FROM verified
    """,
    tags=("L1", "dedup"),
)
def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dedup pipeline end to end: MinHash-LSH
    candidate generation followed by exact word-set Jaccard verification
    ON THE CANDIDATE PAIRS — the composition q_dedup_near + q_dedup_ngram
    only demonstrate separately (the ngram query's (lang, source)
    blocking is its oracle-able stand-in for this candidate source).

    Oracle-checkable end to end because the MinHash family is md5 hex
    strings (engine-identical) rather than xxhash64: both engines derive
    the same signatures, the same band buckets, the same candidate set,
    and the same exact-Jaccard survivors. Scale shape: candidate count
    tracks true duplicates (not n²); the verify join touches only
    candidate pairs; the shuffles carry doc ids, signatures, and word
    sets — never raw text pairs."""
    d = load(spark, sf_dir, "documents")
    return lsh_verified_pairs(d)


# ---- Exact-substring duplication (ExactSubstr-style) ---------------------

GRAM_LEN = 32     # character-window length
GRAM_STRIDE = 16  # stride between windows (overlapping halves)
SUBSTR_DUP_FLAG = 0.5


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(text) - {GRAM_LEN - 1}, 1) + 1,
                     {GRAM_STRIDE}),
               i -> md5(substr(text, i, {GRAM_LEN}))))) AS g
      FROM documents
    ), gram_docs AS (
      SELECT g, COUNT(*) AS n_docs FROM grams GROUP BY g
    )
    SELECT
      grams.doc_id,
      COUNT(*) AS n_grams,
      CAST(COALESCE(SUM(CASE WHEN gram_docs.n_docs > 1 THEN 1 ELSE 0 END),
                    0) AS BIGINT) AS n_shared_grams,
      CAST(COALESCE(SUM(CASE WHEN gram_docs.n_docs > 1 THEN 1 ELSE 0 END),
                    0) AS DOUBLE) / COUNT(*) AS shared_frac,
      CAST(COALESCE(SUM(CASE WHEN gram_docs.n_docs > 1 THEN 1 ELSE 0 END),
                    0) AS DOUBLE) / COUNT(*) >= {SUBSTR_DUP_FLAG}
        AS is_substring_dup
    FROM grams JOIN gram_docs USING (g)
    GROUP BY grams.doc_id
    """,
    tags=("L1", "dedup", "substring"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (the ExactSubstr family of
    Lee et al.'s dedup paper, harness-sized): fingerprint every doc with
    md5 digests of 32-char windows at stride 16, count how many of a
    doc's distinct windows appear in ANY other doc, and flag docs whose
    shared fraction clears 0.5 — catching copy-paste spans that token-set
    Jaccard dilutes away in long documents.

    Scale shape: window fingerprints are ~n_chars/stride rows per doc;
    the global gram-frequency aggregate and the gram-keyed join both
    shuffle md5 digests (32 bytes), never text; per-doc rollup is one
    more doc_id-keyed aggregation. Everything is linear in corpus bytes
    — no pair space. A true suffix-array ExactSubstr finds arbitrary-
    offset overlaps; strided windows trade offset-exactness for
    one-pass, shuffle-bounded execution (both windows of a 50%-overlap
    pair still collide at stride<=len/2)."""
    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(length(text) - {GRAM_LEN - 1},"
            f" 1), {GRAM_STRIDE}), i -> md5(substr(text, i, {GRAM_LEN})))"
        ))).alias("g"),
    )
    gram_docs = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        grams.join(gram_docs, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(shared, F.lit(0)).alias("n_shared_grams"),
        )
        .select(
            "doc_id", "n_grams", "n_shared_grams",
            (F.col("n_shared_grams").cast("double") / F.col("n_grams"))
            .alias("shared_frac"),
            ((F.col("n_shared_grams").cast("double") / F.col("n_grams"))
             >= SUBSTR_DUP_FLAG).alias("is_substring_dup"),
        )
    )


# ---- Benchmark-contamination detection -----------------------------------

BENCH_MOD = 97            # doc_id % 97 == 0 plays the held-out benchmark
CONTAMINATION_FLAG = 0.5  # flag docs sharing >= half their shingles


@query(
    "q_text_contamination",
    oracle=f"""
    WITH {shingles_oracle()}, bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ), corpus AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0
    ), hits AS (
      SELECT doc_id, COUNT(*) AS n_bench_hits
      FROM corpus JOIN bench USING (shingle)
      GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
    )
    SELECT
      t.doc_id,
      t.n_shingles,
      COALESCE(h.n_bench_hits, 0) AS n_bench_hits,
      CAST(COALESCE(h.n_bench_hits, 0) AS DOUBLE) / t.n_shingles
        AS contamination_rate,
      CAST(COALESCE(h.n_bench_hits, 0) AS DOUBLE) / t.n_shingles
        >= {CONTAMINATION_FLAG} AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
    tags=("L1", "L3", "contamination"),
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    fraction of its distinct word shingles that appear anywhere in a
    held-out benchmark set (here: docs with doc_id % 97 == 0) — the
    standard eval-leakage check run before training on scraped corpora.

    Scale shape: the benchmark shingle set is bounded by benchmark size
    (not corpus size), so it broadcasts; the corpus side is one shingle
    explode + broadcast hash join + per-doc count. Shuffles carry
    (doc_id, counts), never text. No n² anything — cost is linear in
    corpus shingle volume."""
    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(_shingles()).alias("shingle"))
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("shingle").distinct())
    corpus = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bench_hits"))
    )
    totals = corpus.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    rate = (F.coalesce(F.col("n_bench_hits"), F.lit(0)).cast("double")
            / F.col("n_shingles"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_bench_hits"), F.lit(0))
            .alias("n_bench_hits"),
            rate.alias("contamination_rate"),
            (rate >= CONTAMINATION_FLAG).alias("contaminated"),
        )
    )


COSINE_DUP_THRESHOLD = 0.45  # harness embeddings are near-orthogonal
                             # random vectors; max pairwise cos ≈ 0.51


def _allpairs_cosine_jvm(e: DataFrame) -> DataFrame:
    """The r1–r15 JVM-fold all-pairs scorer — kept as the fallback for
    embedding columns that are not regular (``kernels``) and as the
    reference the Arrow path is property-tested bit-equal against."""
    a = e.select(F.col("vec_id").alias("a_vec_id"),
                 normalized("embedding").alias("a_vec"))
    b = e.select(F.col("vec_id").alias("b_vec_id"),
                 normalized("embedding").alias("b_vec"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a_vec_id") < F.col("b_vec_id"))
        .select("a_vec_id", "b_vec_id",
                dot("a_vec", "b_vec").alias("cos_sim"))
        .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


@query(
    "q_dedup_cosine",
    oracle=f"""
    WITH {UNIT_ORACLE}
    SELECT
      a.vec_id AS a_vec_id,
      b.vec_id AS b_vec_id,
      list_inner_product(a.nv, b.nv) AS cos_sim
    FROM n a
    JOIN n b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.nv, b.nv) >= {COSINE_DUP_THRESHOLD}
    """,
    tags=("L1", "dedup", "embedding"),
)
def q_dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs whose vectors' cosine similarity
    clears the duplicate threshold. Exact all-pairs here (the oracle-able
    baseline) over the BOUNDED audit sample (at 100 TB the exact scorer
    always runs on a sample or on LSH/IVF candidates —
    q_dedup_cosine_lsh is the production path).

    Execution: a ``mapInArrow`` scorer, bit-exact to the JVM fold
    (``_allpairs_cosine_jvm``, a BroadcastNestedLoopJoin over n²
    pairs). ``kernels.collect_dense`` collects the build side once per
    call and ``sc.broadcast`` ships it; the probe side streams through
    Arrow. ``similarity.np_pairwise_dots`` accumulates each pair's dims
    sequentially (rank-1 updates, not a BLAS matmul, which reorders the
    sum), so every IEEE-754 op matches the fold and DuckDB's
    list_inner_product mirror (property-tested at the raw-bit level).
    A column that is not regular (``kernels``) takes the fold: zip_with
    truncation, NULL propagation and Spark's NaN ordering (NaN ≥
    threshold is true there, false in numpy) are semantics the dense
    matrix cannot mirror."""
    e = load(spark, sf_dir, "embeddings")
    src = e.select("vec_id", "embedding")
    build = collect_dense(src, "vec_id", "embedding")
    if build is None:
        return _allpairs_cosine_jvm(e)
    ids, V = build
    bc = spark.sparkContext.broadcast((ids, np_unit_rows(V)))
    dim = V.shape[1]

    def score(batches):
        import numpy as _np
        import pyarrow as _pa

        ids_b, nb = bc.value
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            aid = batch.column("vec_id").to_numpy()
            na = np_unit_rows(dense_rows(batch.column("embedding"), dim))
            step = 256  # bounds acc at step x n doubles per chunk
            for s in range(0, m, step):
                ab, ai = na[s:s + step], aid[s:s + step]
                acc = np_pairwise_dots(ab, nb)
                mask = ((acc >= COSINE_DUP_THRESHOLD)
                        & (ai[:, None] < ids_b[None, :]))
                ii, jj = _np.nonzero(mask)
                if not len(ii):
                    continue
                yield _pa.RecordBatch.from_arrays(
                    [_pa.array(ai[ii], _pa.int64()),
                     _pa.array(ids_b[jj], _pa.int64()),
                     _pa.array(acc[ii, jj], _pa.float64())],
                    names=["a_vec_id", "b_vec_id", "cos_sim"])

    probe = src.repartition(spark.sparkContext.defaultParallelism)
    return probe.mapInArrow(
        score, "a_vec_id bigint, b_vec_id bigint, cos_sim double")


# ---- SRP-LSH embedding near-dup (the bucketed scale path) ----------------

SRP_BITS = 32    # library-default signature width (the executed dedup op
SRP_BANDS = 8    # derives its own geometry from the corpus size — see
                 # srp_planned_geometry; 8x4 remains the documented
                 # fixed-width default for ad-hoc library callers)

# Planner operating point for the EXECUTED near-dup geometry: hold 0.9
# recall at the production near-dup threshold (cos >= 0.9 — the regime
# banded LSH is designed to serve; q_dedup_lsh_plan's sweep shows that
# holding 0.9 recall at the harness's adversarial cos-0.45 threshold
# costs either ~n^1.63 candidates or hundreds of bands, i.e. LSH's
# documented failure mode near the random-pair noise floor).
SRP_PLAN_THRESHOLD = 0.9
SRP_PLAN_MISS = 0.1  # 1 - recall target (the planner's ln(0.1) numerator)


def srp_planned_geometry(n: int) -> tuple[int, int]:
    """(bits_per_band, bands) for a corpus of ``n`` vectors, from
    q_dedup_lsh_plan's closed forms at the production operating point.

    bits_per_band r = the smallest r with 4^r >= n (integer-exact: no
    float log at a boundary) — i.e. 2^r ~ sqrt(n), so a band's
    random-pair collision rate 2^-r shrinks as the corpus grows and the
    expected random candidate volume bands*(n choose 2)/2^r is
    ~bands*n^1.5: SUB-QUADRATIC by construction, where any FIXED band
    width degrades to n^2 (the r10 decade finding the planner exists
    to prevent). bands = ceil(ln(0.1)/ln(1 - p^r)) holds 0.9 recall at
    SRP_PLAN_THRESHOLD (p = 1 - acos(s)/pi, Charikar). One shared
    derivation: the operator AND its DuckDB oracle both call this
    helper, so the executed geometry and the gate's geometry can never
    drift (the cross-engine arithmetic of the closed forms themselves
    is separately gated by q_dedup_lsh_plan). Quantization mirrors the
    planner: probabilities at 9 dp, the ceil boundary at 6 dp."""
    import math

    r = 1
    while 4 ** r < max(n, 2):
        r += 1
    p = round(1.0 - math.acos(SRP_PLAN_THRESHOLD) / math.pi, 9)
    pband = round(p ** r, 9)
    bands = math.ceil(round(math.log(SRP_PLAN_MISS)
                            / math.log(1.0 - pband), 6))
    return r, bands


def _srp_weights(h: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic hyperplane h: per-dimension weights in [-0.5, 0.5)
    derived from md5 — ``uint32(md5(f"{h}|{d}")[:8hex]) / 2^32 - 0.5``.
    Both steps are exact in binary64 (numerator < 2^32, denominator a
    power of two), so the DuckDB oracle's in-SQL md5 derivation produces
    the bit-identical double."""
    import hashlib

    return [
        int(hashlib.md5(f"{h}|{d}".encode()).hexdigest()[:8], 16)
        / 2 ** 32 - 0.5
        for d in range(dim)
    ]


def _lit_double_matrix(rows: list[list[float]]) -> Column:
    """array<array<double>> literal from ONE parser call instead of one
    py4j ``F.lit`` round trip per element: a bits×dim hyperplane matrix
    is ~2k elements, and per-element construction costs ~1 s of pure
    Python/py4j time on every query build (measured r15: litmat 0.9–1.3 s
    vs 4 ms for the parsed form — construction time the bench counts).
    Bit-exact: ``repr`` emits the shortest round-trip decimal and the
    JVM parser's ``D``-suffixed double literal is correctly rounded, so
    every element round-trips to the identical binary64 (asserted in
    tests)."""
    return F.expr("array(" + ",".join(
        "array(" + ",".join(repr(w) + "D" for w in row) + ")"
        for row in rows) + ")")


def srp_signature_bits(vectors: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "nv",
                       bits: int = SRP_BITS) -> DataFrame:
    """(id, b0..b{bits-1}, nv): one sign bit per hyperplane —
    ``sign(<v, w_h>)`` — computed as JVM fold dot products against a
    single literal hyperplane MATRIX via ``transform`` (no shuffle, no
    Python). One shared fold lambda over an array-of-arrays literal
    instead of ``bits`` unrolled dot expressions: identical arithmetic
    term by term (same zip_with/fold order, so signatures stay
    bit-equal to the oracle), but a ~bits× smaller expression tree —
    measured 3.1 s → 1.1 s for the signature pass at sf0.1, where the
    unrolled form spent most of its time in codegen of the giant
    projection list. The matrix literal itself is built with
    ``_lit_double_matrix`` (one parser call, not ~2k py4j lits)."""
    mat = _lit_double_matrix([_srp_weights(h) for h in range(bits)])
    proj = F.transform(mat, lambda w: dot(F.col(vec_col), w))
    return vectors.select(
        F.col(id_col), F.col(vec_col), proj.alias("_pj")
    ).select(
        F.col(id_col), F.col(vec_col),
        *[
            (F.element_at("_pj", h + 1) >= 0).cast("int").alias(f"b{h}")
            for h in range(bits)
        ],
    )


def srp_candidate_pairs(sig: DataFrame, id_col: str = "vec_id",
                        bits: int = SRP_BITS,
                        bands: int = SRP_BANDS,
                        dedup: bool = True) -> DataFrame:
    """(a_vec_id, b_vec_id) pairs sharing >= 1 sign-bit band bucket.

    ``dedup=False`` skips the cross-band DISTINCT — the candidate
    relation then carries one row per (pair, matching band). When the
    consumer applies a highly selective verify filter, deferring the
    distinct until AFTER it removes the candidate-volume shuffle
    entirely (measured on q_dedup_cosine_lsh: the 815k-pair distinct
    was the single largest exchange; ~20% duplicate verify dots are
    map-side and far cheaper). Deduping here remains right when the
    consumer keeps most candidates."""
    r = bits // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(j).alias("band_idx"),
            F.concat_ws(
                "", *[f"b{j * r + i}" for i in range(r)]).alias("band_key"),
        )
        for j in range(bands)
    ])
    # share: both sides of the self-join consume this relation, and
    # Catalyst does NOT exchange-reuse across the aliased branches here
    # (measured: signatures — 32 fold dots over 64-wide literal
    # hyperplane arrays, the expensive projection — were computed twice).
    # repartition BEFORE the self-join: the embeddings table arrives as
    # one file -> one partition, and with dedup=False nothing downstream
    # would redistribute, so the pair explosion and every verify dot
    # would run single-threaded (measured: 10 s vs 5 s at sf0.1). A
    # 16k-row shuffle here buys full-width parallelism for the 1M-pair
    # stage that follows.
    banded = sig.select(
        F.col(id_col), F.explode(band_structs).alias("bd")
    ).select(id_col, "bd.band_idx", "bd.band_key") \
        .repartition(id_col)
    banded = share(banded)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_vec_id"),
                F.col(f"b.{id_col}").alias("b_vec_id"))
    )
    return pairs.distinct() if dedup else pairs


def _srp_oracle(bits: int = SRP_BITS, bands: int = SRP_BANDS,
                dim: int = EMB_DIM) -> str:
    r = bits // bands
    return f"""
    WITH hp AS (
      SELECT h,
             list(CAST(concat('0x', substr(md5(CAST(h AS VARCHAR) || '|'
                                               || CAST(d AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0 - 0.5 ORDER BY d) AS wv
      FROM range({bits}) t1(h), range({dim}) t2(d)
      GROUP BY h
    ), {UNIT_ORACLE}, bits AS (
      SELECT vec_id, h,
             CASE WHEN list_inner_product(nv, wv) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM n, hp
    ), bands AS (
      SELECT vec_id, h // {r} AS band_idx,
             string_agg(CAST(bit AS VARCHAR), '' ORDER BY h) AS band_key
      FROM bits GROUP BY vec_id, h // {r}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.vec_id < b.vec_id
    )
    SELECT a_vec_id, b_vec_id,
           list_inner_product(na.nv, nb.nv) AS cos_sim
    FROM cand
    JOIN n na ON na.vec_id = a_vec_id
    JOIN n nb ON nb.vec_id = b_vec_id
    WHERE list_inner_product(na.nv, nb.nv) >= {COSINE_DUP_THRESHOLD}
    """


def _srp_planned_oracle(sf_dir: str) -> str:
    """The SRP mirror at the SAME planned geometry the engine executes:
    corpus size from the parquet footers of the file set ``io.load``
    reads (no scan), (bits, bands) from the shared srp_planned_geometry
    helper."""
    import pyarrow.parquet as pq

    n = sum(pq.ParquetFile(f).metadata.num_rows
            for f in _table_files(sf_dir, "embeddings"))
    r, bands = srp_planned_geometry(n)
    return _srp_oracle(bits=r * bands, bands=bands)


@query(
    "q_dedup_cosine_lsh",
    oracle=_srp_planned_oracle,
    tags=("L1", "dedup", "embedding", "lsh"),
)
def q_dedup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUCKETED embedding near-dup — signed-random-projection LSH
    (Charikar's SimHash for vectors) at PLANNER-DERIVED geometry: hash
    each unit vector to ``sign(<v, w_h>)`` over r·bands md5-derived
    hyperplanes where (r, bands) = srp_planned_geometry(N) — the
    r ~ log2(sqrt N) / recall-0.9 closed forms q_dedup_lsh_plan gates
    cross-engine — band the bits, generate candidate pairs per shared
    band bucket, then verify with the exact single-dot cosine scorer at
    the corpus dup threshold. Replaces the r3-r11 FIXED 8×4 geometry,
    whose per-band random admission 2⁻⁴ was corpus-size-blind: the r10
    decade rung measured its candidate volume going quadratic. With
    2^r >= sqrt(N) the expected random candidate volume is
    bands·(N choose 2)/2^r ≲ bands·N^1.5 — sub-quadratic by
    construction, and the signature stays narrow (20 bits at N=500,
    30 at 2k, 56 at 20k, 132 at 2M).

    Oracle-checkable end to end AT THE SAME GEOMETRY: the oracle is
    sf-templated — it reads N from the parquet footer and calls the
    same geometry helper, so engine and gate can never band differently
    — and the hyperplanes come from md5 (both engines derive
    bit-identical doubles — exact uint32/2^32 - 0.5 arithmetic) with
    sequential-fold dots (the q_dedup_cosine precedent), so signatures,
    buckets, candidates, and survivors all hash-match the full DuckDB
    mirror.

    Scale shape: signatures are per-row JVM folds (no shuffle); the
    only shuffles carry (vec_id, r-char band key) and the verify join
    carries candidate ids + unit vectors — never n² pairs. The recall
    trade is PLANNED, not accidental: bands holds 0.9 recall at the
    production near-dup threshold (cos≥0.9, p≈0.856); at the harness's
    adversarial cos-0.45 threshold (p≈0.65, the random-pair noise
    floor) the S-curve 1-(1-p^r)^bands admits ~32% of true pairs
    (theory; measured 50/144 at sf0.1, 5/14 at sf0.01), which
    q_dedup_recall_lsh publishes as a gated number; the planner's
    sweep shows holding 0.9 recall THERE costs ~N^1.63 candidates
    (ρ = ln(1/p)/ln 2 ≈ 0.63), which is the exact scorer's regime
    (q_dedup_cosine on a sample, or the staged IVF route). Measured at
    sf0.1: candidate rows 1.04M (old 8×4) → 174k (6×5), wall 2.15 s →
    1.85 s warm; decade rung g10 = 3.27 (was candidate-quadratic at
    fixed width)."""
    e = load(spark, sf_dir, "embeddings")
    # Corpus size: one count() — bounded metadata, the same scalar the
    # IVF build collects; drives the planned geometry.
    n = e.count()
    r, bands = srp_planned_geometry(n)
    # nv is deliberately NOT shared despite three consumers (the
    # signature pass and both verify-join sides): normalization is a
    # cheap per-row fold, and materializing it pins the single-input-file
    # partitioning onto the verify joins (measured 3.3 -> 4.2 s) where
    # the re-derived branches parallelize after their exchanges.
    nv = e.select("vec_id", normalized("embedding").alias("nv"))
    sig = srp_signature_bits(nv, bits=r * bands)
    # dedup deferred past the verify filter: the selective threshold
    # keeps few candidates, so distinct runs on survivors instead
    # of shuffling the full candidate volume (see srp_candidate_pairs).
    cand = srp_candidate_pairs(sig, bits=r * bands, bands=bands,
                               dedup=False)
    a = nv.select(F.col("vec_id").alias("a_vec_id"), F.col("nv").alias("na"))
    b = nv.select(F.col("vec_id").alias("b_vec_id"), F.col("nv").alias("nb"))
    return (
        cand.join(a, "a_vec_id")
        .join(b, "b_vec_id")
        .select("a_vec_id", "b_vec_id",
                dot_idx("na", "nb").alias("cos_sim"))
        .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
        # distinct on SURVIVORS (~1e-4 of candidates): collapses the
        # per-band duplicates the deferred-dedup candidate relation
        # carries, at survivor cost instead of candidate cost
        .distinct()
    )


@query("q_dedup_simhash", oracle=None, tags=("L1", "dedup", "rows-only"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: sum ±1 per bit over token hashes,
    signature bit i = sign of the sum. Near-dups share most bits; pairs
    are found by bucketing on 16-bit signature quarters (Hamming ≤ 3 ⇒
    at least one identical quarter). Output: per-doc signature + bucket
    keys (rows-only: hash-dependent)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).select("doc_id", F.xxhash64("token").alias("h"))
    # bit i contribution: +1 if hash bit set else -1 (shiftleft wraps at
    # bit 63 with JVM two's-complement semantics, which is what we want)
    def mask(i: int) -> Column:
        return F.shiftleft(F.lit(1).cast("bigint"), i)

    contribs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(mask(i)) != 0, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*contribs)
    simhash = F.lit(0).cast("bigint")
    for i in range(64):
        bit = F.when(F.col(f"s{i}") > 0, mask(i)).otherwise(
            F.lit(0).cast("bigint"))
        simhash = simhash.bitwiseOR(bit)
    sig = sums.select("doc_id", simhash.alias("simhash"))
    quarters = [
        F.col("simhash")
        .bitwiseAND(F.shiftleft(F.lit(0xFFFF).cast("bigint"), 16 * j))
        .alias(f"q{j}")
        for j in range(4)
    ]
    return sig.select("doc_id", "simhash", *quarters)


# ---- Engine-portable md5 SimHash (oracle-gated twin of q_dedup_simhash) --

# Hex characters with the given bit set, for bit weights 8/4/2/1.
_HEX_BIT = {
    3: "89abcdef",
    2: "4567cdef",
    1: "2367abef",
    0: "13579bdf",
}


def _simhash_oracle(k_bits: int = 64) -> str:
    terms = []
    for b in range(k_bits):
        digit = f"substr(md5(token), {1 + b // 4}, 1)"
        chars = ", ".join(f"'{c}'" for c in _HEX_BIT[3 - (b % 4)])
        terms.append(
            f"SUM(CASE WHEN {digit} IN ({chars}) THEN 1 ELSE -1 END)"
            f" AS s{b}")
    sums = ",\n        ".join(terms)
    bits = " || ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(k_bits))
    quarters = ",\n           ".join(
        f"substr(bits, {1 + 16 * j}, 16) AS q{j}" for j in range(4))
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ), sums AS (
      SELECT doc_id,
        {sums}
      FROM tok GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {bits} AS bits FROM sums
    )
    SELECT doc_id, bits AS simhash_bits,
           {quarters}
    FROM sig
    """


@query(
    "q_dedup_simhash_md5",
    oracle=_simhash_oracle(),
    tags=("L1", "dedup", "simhash"),
)
def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash: 64 signed bit-sums where token bit b is
    read from the md5 HEX digest (digit b//4, bit b%4) — so, unlike the
    xxhash64 variant (q_dedup_simhash, the cheap production path), the
    signature is identical in every engine and the whole construction
    hash-checks against DuckDB. The signature is emitted as a 64-char
    bit STRING with 16-bit quarter substrings as the Hamming-adjacency
    bucket keys (two docs within Hamming distance 3 share at least one
    quarter verbatim — same banding argument as LSH).

    Scale shape: one token explode + one partial-aggregated 64-sum per
    doc; bucket keys are per-row substrings. Same cost class as the
    xxhash64 variant, plus md5's higher per-token constant — the price
    of cross-engine verifiability."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))
    sums = [
        F.sum(
            F.when(
                F.substring("h", 1 + b // 4, 1)
                .isin(*list(_HEX_BIT[3 - (b % 4)])), 1
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    bits = F.concat(*[
        F.when(F.col(f"s{b}") > 0, "1").otherwise("0") for b in range(64)
    ])
    sig = agg.select("doc_id", bits.alias("simhash_bits"))
    return sig.select(
        "doc_id", "simhash_bits",
        *[F.substring("simhash_bits", 1 + 16 * j, 16).alias(f"q{j}")
          for j in range(4)],
    )


HAMMING_MAX = 3  # simhash near-dup threshold (quarter-bucket guarantee)


def _simhash_pairs_oracle() -> str:
    base = _simhash_oracle().strip()
    # reuse the signature CTE chain, then bucket on quarters and verify
    # the exact bit distance
    assert base.startswith("WITH ") and base.rstrip().endswith("FROM sig")
    return f"""
    WITH s2 AS ({base}
    ), quarters AS (
      SELECT doc_id, 0 AS q_idx, q0 AS q_val FROM s2
      UNION ALL SELECT doc_id, 1, q1 FROM s2
      UNION ALL SELECT doc_id, 2, q2 FROM s2
      UNION ALL SELECT doc_id, 3, q3 FROM s2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
      FROM quarters a
      JOIN quarters b
        ON a.q_idx = b.q_idx AND a.q_val = b.q_val
       AND a.doc_id < b.doc_id
    )
    SELECT c.a_doc_id, c.b_doc_id,
           64 - len(list_filter(range(1, 65),
                    i -> substr(sa.simhash_bits, CAST(i AS INT), 1)
                       = substr(sb.simhash_bits, CAST(i AS INT), 1)))
             AS hamming
    FROM cand c
    JOIN s2 sa ON sa.doc_id = c.a_doc_id
    JOIN s2 sb ON sb.doc_id = c.b_doc_id
    WHERE 64 - len(list_filter(range(1, 65),
                   i -> substr(sa.simhash_bits, CAST(i AS INT), 1)
                      = substr(sb.simhash_bits, CAST(i AS INT), 1)))
          <= {HAMMING_MAX}
    """


@query(
    "q_dedup_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    tags=("L1", "dedup", "simhash"),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs END TO END: md5 bit-string signatures,
    quarter-bucket candidate generation (Hamming ≤ 3 ⇒ some 16-bit
    quarter matches verbatim — the pigeonhole banding argument), exact
    bit-distance verification on the candidates only. The SimHash
    counterpart of q_dedup_lsh_verified, oracle-checkable for the same
    reason: every hash is md5, every comparison is a string op.

    Scale shape: signatures are one aggregation pass; the bucket join is
    an equi-join on 16-char keys whose candidate count tracks true
    near-dups; the verify stage touches candidates only and compares
    64-char strings — no text ever leaves the signature pass."""
    # The signature relation feeds three consumers (quarter explode and
    # both sides of the verify join); share it so the 64-aggregate pass
    # runs once.
    sig = share(q_dedup_simhash_md5(spark, sf_dir))
    quarters = None
    for j in range(4):
        q_j = sig.select(
            "doc_id", F.lit(j).alias("q_idx"),
            F.col(f"q{j}").alias("q_val"))
        quarters = q_j if quarters is None else quarters.union(q_j)
    a, b = quarters.alias("a"), quarters.alias("b")
    cand = (
        a.join(b, (F.col("a.q_idx") == F.col("b.q_idx"))
               & (F.col("a.q_val") == F.col("b.q_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_doc_id"),
                F.col("b.doc_id").alias("b_doc_id"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("a_doc_id"),
                    F.col("simhash_bits").alias("a_bits"))
    sb = sig.select(F.col("doc_id").alias("b_doc_id"),
                    F.col("simhash_bits").alias("b_bits"))
    hamming = F.expr(
        "64 - size(filter(sequence(1, 64), "
        "i -> substr(a_bits, i, 1) = substr(b_bits, i, 1)))")
    return (
        cand.join(sa, "a_doc_id").join(sb, "b_doc_id")
        .select("a_doc_id", "b_doc_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
    )


CLUSTER_JACCARD = 0.8  # edge threshold: pairs this similar are duplicates


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation.

    nodes: one column ``node``; edges: ``src``/``dst`` (one direction is
    enough — symmetrized here). Returns (node, label) with label = the
    smallest node id in the component.

    Scale design: this is the standard DataFrame-iterative CC (the
    two-phase large-star/small-star algorithm reduces to exactly this
    min-propagate loop on duplicate-cluster graphs, whose diameter is
    small). Each round is one shuffle keyed by node; ``share``
    truncates the growing lineage so round N's plan doesn't replay rounds
    1..N-1. The loop is driver-side CONTROL only — the data never
    leaves executors;
    convergence is detected with a LIMIT 1 existence probe, not a
    collect."""
    # Materialize the (possibly expensive) edge relation ONCE — without
    # this, every loop iteration would replay the upstream pair
    # computation (measured 18→6 s at sf0.1 for the Jaccard pair source).
    sym = share(edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    labels = nodes.select("node", F.col("node").alias("label"))
    # Convergence probe: min-labels only ever decrease, so the exact
    # decimal label sum is strictly decreasing until fixpoint — one
    # cheap aggregate per round instead of a self-join diff.
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    for _ in range(max_iter):
        prop = sym.join(labels, sym["dst"] == labels["node"]).select(
            F.col("src").alias("node"), "label")
        # The convergence-probe aggregate below computes every
        # partition, so it materializes the shared labels as a side
        # effect: one job per round.
        new_labels = share(
            labels.union(prop).groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def components_oracle(
        pairs: str = "SELECT a_doc_id AS src, b_doc_id AS dst FROM verified",
) -> str:
    """DuckDB CTE bodies of connected_components over the documents:
    ``pairs`` (a SELECT of undirected ``src``/``dst`` edges, by default
    the ``verified`` pairs of lsh_verified_oracle), ``edges`` (both
    directions), ``reach`` and ``cc`` (doc_id, cluster_id = the smallest
    doc_id in its component). Needs ``WITH RECURSIVE``. Plain SQL,
    written apart from the Spark code."""
    return f"""
    pairs AS ({pairs}),
    edges AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst, src FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
    ), cc AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id
      FROM reach GROUP BY node
    )"""


_CLUSTER_PAIRS_SQL = f"""
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a
      JOIN documents b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_distinct(list_intersect(
              list_filter(string_split(a.text, ' '), x -> x <> ''),
              list_filter(string_split(b.text, ' '), x -> x <> ''))))
            AS DOUBLE)
          / (len(list_distinct(list_filter(string_split(a.text, ' '), x -> x <> '')))
             + len(list_distinct(list_filter(string_split(b.text, ' '), x -> x <> '')))
             - len(list_distinct(list_intersect(
                 list_filter(string_split(a.text, ' '), x -> x <> ''),
                 list_filter(string_split(b.text, ' '), x -> x <> '')))))
          >= {CLUSTER_JACCARD}
"""


def _cluster_pair_block(tbl):
    """Grouped-map worker for the blocked all-pairs Jaccard edge stage:
    one call per (lang, source) block. The distinct word sets become
    rows of a uint64 BITSET matrix over the block vocabulary, and each
    pair's intersection size is a vectorized AND + popcount — integer
    counts, so the pair set is EXACT by construction (vocabulary ids
    come from ``dictionary_encode``, an injective map; no hashing, no
    collisions). The only float op — n_common/union vs the 0.8
    threshold — is the same IEEE-754 double division of exact ints the
    JVM plan evaluates (and J(∅,∅)=1, the q_dedup_ngram empty-text
    contract). Returns (src, dst) with src < dst, exactly the join's
    output."""
    import numpy as _np
    import pyarrow as _pa
    import pyarrow.compute as _pc

    tbl = tbl.sort_by("doc_id")
    n = tbl.num_rows
    out_src: list = []
    out_dst: list = []
    words = tbl.column("words").combine_chunks()
    vocab = _pc.dictionary_encode(words.flatten(), null_encoding="encode")
    vid = vocab.indices.to_numpy().astype(_np.int64)
    rid = _pc.list_parent_indices(words).to_numpy()
    sizes = _pc.list_value_length(words).to_numpy().astype(_np.int64)
    width = max((len(vocab.dictionary) + 63) // 64, 1)
    M = _np.zeros((n, width), dtype=_np.uint64)
    _np.bitwise_or.at(M, (rid, vid >> 6),
                      _np.uint64(1) << (vid & 63).astype(_np.uint64))
    ids = tbl.column("doc_id").to_numpy()
    pop8 = _np.array([bin(i).count("1") for i in range(256)],
                     dtype=_np.uint16)
    for a in range(n - 1):
        sub = M[a + 1:] & M[a]
        inter = pop8[sub.view(_np.uint8)].sum(axis=1).astype(_np.int64)
        u = sizes[a] + sizes[a + 1:] - inter
        j = _np.where(u == 0, 1.0, inter / _np.where(u == 0, 1, u))
        keep = (j >= CLUSTER_JACCARD) & (ids[a + 1:] > ids[a])
        for b in _np.nonzero(keep)[0]:
            out_src.append(int(ids[a]))
            out_dst.append(int(ids[a + 1 + b]))
    return _pa.table({"src": _pa.array(out_src, _pa.int64()),
                      "dst": _pa.array(out_dst, _pa.int64())})


def _cluster_pairs(words: DataFrame) -> DataFrame:
    """Jaccard ≥ CLUSTER_JACCARD edges within (lang, source) blocks, one
    block per worker call. A row with a NULL key or NULL words never
    pairs in the self-join this replaces, so it is dropped first."""
    return (
        words.where(F.col("doc_id").isNotNull() & F.col("lang").isNotNull()
                    & F.col("source").isNotNull()
                    & F.col("words").isNotNull())
        .groupBy("lang", "source")
        .applyInArrow(_cluster_pair_block, "src bigint, dst bigint")
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {components_oracle(_CLUSTER_PAIRS_SQL)}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """,
    tags=("L1", "dedup", "clusters"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the duplicate-pair
    graph (word-set Jaccard ≥ 0.8 on (lang, source)-blocked pairs), so a
    keep-one-per-cluster policy can act on whole duplicate groups instead
    of raw pairs — the step that turns pairwise dedup into an actual
    training-corpus filter. cluster_id = smallest doc_id in the
    component (deterministic canonical representative).

    Oracle-checkable end to end: the pair stage is exact set Jaccard
    (q_dedup_ngram's semantics) and the component stage is mirrored as a
    DuckDB recursive CTE. At 100 TB the same loop runs on MinHash-LSH
    candidate pairs (q_dedup_near) — the component algorithm is
    pair-source-agnostic.

    Execution: the edge stage ``_cluster_pairs`` is a grouped map
    (``groupBy("lang", "source").applyInArrow``), so a worker holds one
    block, not a partition, and scores its pairs with a bitset AND +
    popcount instead of a per-pair array_intersect. Tokenization stays
    in the JVM, so the word sets are byte-identical; equality with the
    blocked self-join is property-tested pair-for-pair."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", "source",
        F.array_distinct(tokens(F.col("text"))).alias("words"))
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")), _cluster_pairs(words))
    from pyspark.sql import Window
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


def _lsh_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {lsh_verified_oracle()},
    {components_oracle()}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """


@query(
    "q_dedup_clusters_lsh",
    oracle=_lsh_clusters_oracle(),
    tags=("L1", "dedup", "clusters", "lsh"),
)
def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION clustering composition end to end: connected
    components over LSH-VERIFIED candidate pairs (md5 MinHash buckets →
    exact-Jaccard verify ≥ 0.5) instead of the metadata-blocked pair
    space q_dedup_clusters uses for its oracle-able demo. Because the
    md5 hash family is engine-identical, the candidate set — and hence
    the edge set, the components, and the cluster sizes — hash-check
    against a DuckDB recursive CTE over the same construction.

    This is the composition SCALE.md promises ("the pair source swaps to
    LSH candidates without touching the component loop") — oracle-defined,
    locally mirror-tested, and rotated to the front of the round-3 driver
    check window. Scale shape: candidate edges
    track true duplicates (no n² anywhere — plan-asserted for the LSH
    stage), and the CC loop is the same min-label propagation with
    per-round lineage truncation."""
    d = load(spark, sf_dir, "documents")
    edges = lsh_verified_pairs(d).select(
        F.col("a_doc_id").alias("src"), F.col("b_doc_id").alias("dst"))
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")), edges)
    from pyspark.sql import Window
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


# ---- Containment (sub/superset) duplication ------------------------------

CONTAINMENT_DUP = 0.9   # fraction of the smaller doc present in the other
RARE_SHINGLE_DF = 10    # blocking key: shingles in 2..DF docs pair those docs


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {shingles_oracle()}, rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) BETWEEN 2 AND {RARE_SHINGLE_DF}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
      FROM sh a
      JOIN rare r ON a.shingle = r.shingle
      JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    ), shsets AS (
      SELECT doc_id, list_distinct(list(shingle)) AS w
      FROM sh GROUP BY doc_id
    )
    SELECT a_doc_id, b_doc_id,
           CAST(len(list_intersect(wa.w, wb.w)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE)
             / greatest(len(wa.w), 1) AS containment_a,
           CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE)
             / greatest(len(wb.w), 1) AS containment_b,
           CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE)
             / greatest(len(wa.w) + len(wb.w)
                        - len(list_intersect(wa.w, wb.w)), 1) AS jaccard
    FROM cand
    JOIN shsets wa ON wa.doc_id = a_doc_id
    JOIN shsets wb ON wb.doc_id = b_doc_id
    WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE)
            / greatest(least(len(wa.w), len(wb.w)), 1)
          >= {CONTAINMENT_DUP}
    """,
    tags=("L1", "dedup", "containment"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT dedup — |A∩B| / min(|A|,|B|) ≥ {CONTAINMENT_DUP}:
    catches sub/superset duplication (a doc embedded inside a larger
    one) that symmetric Jaccard structurally misses — A ⊂ B with
    |A| ≪ |B| has jaccard |A|/|B| → 0 but containment 1.0. The quote/
    boilerplate-inclusion case every web-corpus pipeline screens after
    plain near-dedup. Both directional containments and jaccard ship so
    downstream policy can distinguish "A inside B" from "B inside A".
    The verify metric is over {SHINGLE_N}-gram SHINGLE sets, the same
    unit as the blocking key — unigram word sets saturate on any corpus
    with a narrow vocabulary (measured: 8,340 spurious ≥0.9 word-set
    pairs on the 500-doc harness corpus vs the handful of true shingle
    pairs), while shared shingles require shared phrasing.

    Candidate generation is RARE-SHINGLE BLOCKING (prefix-filter
    family), NOT MinHash-LSH — deliberately: min-hash collision
    probability equals symmetric Jaccard, so a contained doc with
    jaccard |A|/|B| → 0 is exactly the pair Jaccard-LSH bands miss
    (measured while building the subset property test: a 40-token doc
    inside a 200-token doc, containment 1.0, jaccard 0.19, zero band
    collisions at the 8×2 md5 config). Instead: every shingle held by
    2..{RARE_SHINGLE_DF} documents pairs those documents. A contained
    doc shares ALL its shingles with its container, so the pair is
    missed only if every one of its shingles occurs in >
    {RARE_SHINGLE_DF} docs — boilerplate so common it should be handled
    by the repetition/quality screens, not pairwise dedup.

    Scale shape: the blocking relation is (shingle, doc) with df
    bounded by {RARE_SHINGLE_DF}, so each rare shingle emits ≤
    C({RARE_SHINGLE_DF},2) pairs — pair volume is O(n_shingles · df²),
    never n²; the df filter is one hash aggregate on the shingle
    relation the LSH family already materializes. Verify touches
    candidates only and ships word arrays for them alone."""
    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(_shingles()).alias("shingle"))
    rare = (sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where((F.col("df") >= 2) & (F.col("df") <= RARE_SHINGLE_DF))
            .select("shingle"))
    # blocked feeds both sides of the candidate self-join — share it
    # (rare-filtered shingle relation, df<=10 survivors only).
    blocked = share(sh.join(rare, "shingle"))
    cand = (
        blocked.select(F.col("doc_id").alias("a_doc_id"), "shingle")
        .join(blocked.select(F.col("doc_id").alias("b_doc_id"), "shingle"),
              "shingle")
        .where(F.col("a_doc_id") < F.col("b_doc_id"))
        .select("a_doc_id", "b_doc_id")
        .distinct()
    )
    # share: the verify join consumes the shingle-set relation on
    # BOTH sides and aliased branches do not exchange-reuse — without
    # it the corpus is re-shingled twice more per call (the
    # lsh_verified_pairs words pathology, r15).
    shsets = share(d.select("doc_id", _shingles().alias("w")))
    wa = shsets.select(F.col("doc_id").alias("a_doc_id"),
                       F.col("w").alias("wa"))
    wb = shsets.select(F.col("doc_id").alias("b_doc_id"),
                       F.col("w").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.greatest(F.size("wa") + F.size("wb") - inter, F.lit(1))
    cont_min = inter.cast("double") / F.greatest(
        F.least(F.size("wa"), F.size("wb")), F.lit(1))
    return (
        cand.join(wa, "a_doc_id")
        .join(wb, "b_doc_id")
        .select(
            "a_doc_id", "b_doc_id",
            inter.cast("bigint").alias("n_common"),
            (inter.cast("double") / F.greatest(F.size("wa"), F.lit(1)))
            .alias("containment_a"),
            (inter.cast("double") / F.greatest(F.size("wb"), F.lit(1)))
            .alias("containment_b"),
            (inter.cast("double") / union).alias("jaccard"),
            cont_min.alias("_cm"),
        )
        .where(F.col("_cm") >= CONTAINMENT_DUP)
        .drop("_cm")
    )


# ---- SemDeDup: k-means-cell-blocked semantic dedup -----------------------


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, label, u.pos AS pos, CAST(u.x AS DOUBLE) AS x
      FROM (
        SELECT vec_id, label,
               unnest(list_transform(
                 range(1, len(embedding) + 1),
                 i -> struct_pack(pos := i, x := embedding[i]))) AS u
        FROM embeddings)
    ), cent AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(x)
               AS centroid
      FROM ex GROUP BY label, pos
    ), d2 AS (
      SELECT ex.vec_id, cent.c_label,
             CAST(SUM(CAST((ex.x - cent.centroid) * (ex.x - cent.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM ex JOIN cent ON ex.pos = cent.pos
      GROUP BY ex.vec_id, cent.c_label
    ), assigned AS (
      SELECT vec_id, c_label AS cell FROM (
        SELECT vec_id, c_label,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
        FROM d2
      ) WHERE rn = 1
    ), {UNIT_ORACLE}
    SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id,
           aa.cell AS cell,
           list_inner_product(a.nv, b.nv) AS cos_sim
    FROM n a JOIN assigned aa ON a.vec_id = aa.vec_id
    JOIN assigned ab ON TRUE
    JOIN n b ON b.vec_id = ab.vec_id
    WHERE aa.cell = ab.cell AND a.vec_id < b.vec_id
      AND list_inner_product(a.nv, b.nv) >= {COSINE_DUP_THRESHOLD}
    """,
    tags=("L1", "dedup", "embedding", "semdedup"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC DEDUP, cluster-blocked (the SemDeDup pipeline shape):
    k-means-assign every embedding to its nearest centroid, then run the
    exact cosine scorer ONLY on same-cell pairs — the third blocking
    scheme in the embedding-dedup family, next to SRP-LSH bit-band
    buckets (q_dedup_cosine_lsh) and the all-pairs baseline
    (q_dedup_cosine). Clustering-as-blocking is what the published
    LLM-corpus pipelines run at the billions-of-docs scale, because the
    cells double as the IVF index cells (similarity.py) — one clustering
    pays for dedup AND serving.

    Scale shape: centroids are a k×dim broadcast relation (the
    clustering.py posture); assignment is one exploded hash-agg + argmin
    carrying k rows per vector; the pair join shuffles the corpus by
    cell id once and pair volume is Σ|cell|² — controlled by k, never
    n². Recall trade (documented, inherent to SemDeDup): near-dup pairs
    straddling a cell boundary are missed; the mitigation at scale is
    probing the p nearest cells, exactly like IVF's nprobe. Here k =
    label cardinality so the oracle can mirror the deterministic
    seeding; the distance/argmin arithmetic is q_cluster_assign's
    (green), the pair scorer is q_dedup_cosine's (green)."""
    from .clustering import _centroids, _exploded
    from ..compat import q as qz

    ex = _exploded(spark, sf_dir)
    cent = _centroids(ex)
    d2 = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "c_label")
        .agg(F.sum(qz((F.col("x") - F.col("centroid"))
                      * (F.col("x") - F.col("centroid"))))
             .cast("double").alias("dist2"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
    assigned = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("cell"))
    )
    e = load(spark, sf_dir, "embeddings")
    nv = e.select("vec_id", normalized("embedding").alias("nv"))
    # share: both sides of the cell-blocked pair join consume this
    # relation, and without it the exploded-assignment aggregation (the
    # expensive stage) runs twice — same measured pathology and same fix
    # as the SRP band relation above.
    withcell = share(nv.join(assigned, "vec_id"))
    a = withcell.select(F.col("vec_id").alias("a_vec_id"),
                        F.col("nv").alias("a_nv"), "cell")
    b = withcell.select(F.col("vec_id").alias("b_vec_id"),
                        F.col("nv").alias("b_nv"), "cell")
    return (
        a.join(b, "cell")
        .where(F.col("a_vec_id") < F.col("b_vec_id"))
        .select("a_vec_id", "b_vec_id", "cell",
                dot_idx("a_nv", "b_nv").alias("cos_sim"))
        .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


# ---- LSH quality audit ---------------------------------------------------

def _lsh_recall_oracle(sf_dir: str) -> str:
    """Compose the already-registered exact and SRP-LSH oracles into the
    recall statement — the texts come from the registry entries defined
    above (the LSH side sf-templated, so this audit mirrors the SAME
    planned geometry), so the audit can never drift from what it
    audits."""
    from ..registry import _REGISTRY

    exact = _REGISTRY["q_dedup_cosine"].oracle_for(sf_dir)
    lsh = _REGISTRY["q_dedup_cosine_lsh"].oracle_for(sf_dir)
    return f"""
    WITH exact_pairs AS ({exact}),
    lsh_pairs AS ({lsh})
    SELECT
      CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_true_pairs,
      CAST((SELECT COUNT(*) FROM lsh_pairs) AS BIGINT) AS n_lsh_pairs,
      CAST((SELECT COUNT(*) FROM exact_pairs e
            JOIN lsh_pairs l
              ON e.a_vec_id = l.a_vec_id AND e.b_vec_id = l.b_vec_id)
           AS BIGINT) AS n_hits,
      CAST((SELECT COUNT(*) FROM exact_pairs e
            JOIN lsh_pairs l
              ON e.a_vec_id = l.a_vec_id AND e.b_vec_id = l.b_vec_id)
           AS DOUBLE)
        / (SELECT COUNT(*) FROM exact_pairs) AS recall
    """


@query("q_dedup_recall_lsh", oracle=_lsh_recall_oracle,
       tags=("L1", "audit", "lsh"))
def q_dedup_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH QUALITY AUDIT: recall of the SRP-LSH near-dup pipeline
    against the exact all-pairs scorer — the dedup twin of
    q_sim_recall_ivf, and the number that decides whether a band
    configuration is shippable (the S-curve math in
    q_dedup_cosine_lsh's docstring, MEASURED instead of derived).
    One row: true pair count, LSH-surviving pair count, intersection,
    recall.

    At 100 TB the exact side runs on a SAMPLE (here the harness corpus
    is the sample) while LSH serves the full corpus — recall is always
    estimated on a bounded sample, so the audit's all-pairs stage never
    scales with the corpus; the composition here is the per-shard audit
    job verbatim. Both inputs are deterministic md5-derived pipelines,
    so even this meta-query hash-matches its oracle."""
    exact = q_dedup_cosine(spark, sf_dir).select("a_vec_id", "b_vec_id")
    lsh = q_dedup_cosine_lsh(spark, sf_dir).select("a_vec_id", "b_vec_id")
    hits = exact.join(lsh, ["a_vec_id", "b_vec_id"])
    n_true = exact.agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_true_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh_pairs"))
    n_hit = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return (
        n_true.crossJoin(n_lsh).crossJoin(n_hit)  # three 1-row relations
        .select(
            "n_true_pairs", "n_lsh_pairs", "n_hits",
            # No true pairs (empty/near-empty corpus): recall is
            # undefined, not a crash — NULL, matching SQL 0/0 semantics.
            F.when(F.col("n_true_pairs") == 0,
                   F.lit(None).cast("double"))
            .otherwise(F.col("n_hits").cast("double")
                       / F.col("n_true_pairs"))
            .alias("recall"),
        )
    )


# ---- Cross-source overlap audit (corpus contamination matrix) ------------


@query(
    "q_text_source_overlap",
    oracle=f"""
    WITH {shingles_oracle(key="source")}, ss AS (
      SELECT DISTINCT source, md5(shingle) AS dig FROM sh
    ), sizes AS (
      SELECT source, COUNT(*) AS n_shingles FROM ss GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared
      FROM ss a JOIN ss b
        ON a.dig = b.dig AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           CAST(sa.n_shingles AS BIGINT) AS n_a,
           CAST(sb.n_shingles AS BIGINT) AS n_b,
           CAST(s.n_shared AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.source_a = sa.source
    JOIN sizes sb ON s.source_b = sb.source
    """,
    tags=("L1c", "text", "audit"),
)
def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE overlap matrix: shared distinct {SHINGLE_N}-gram
    shingles and Jaccard similarity for every source pair — the corpus
    audit that finds scraped-twice pipelines and benchmark bleed
    BETWEEN ingest feeds, where q_text_contamination checks one corpus
    against one benchmark.

    Scale shape: the corpus collapses to DISTINCT (source, digest) rows
    before any join — the shuffle carries a 32-byte md5 digest, never
    shingle text; the pair join is keyed by digest and a shingle shared
    by all S sources emits at most C(S,2) rows (sources are a small
    fixed set, so the blow-up is bounded by |sources|² per digest, not
    by corpus size). Output is the |sources|² upper triangle — bounded
    metadata. Jaccard is one double division of exact counts."""
    d = load(spark, sf_dir, "documents")
    ss = share(  # feeds the sizes aggregate and both join sides
        d.select("source", F.explode(_shingles()).alias("shingle"))
        .select("source", F.md5("shingle").alias("dig"))
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        ss.alias("a").join(
            ss.alias("b"),
            (F.col("a.dig") == F.col("b.dig"))
            & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(sizes.withColumnRenamed("source", "source_a")
                                .withColumnRenamed("n_shingles", "n_a")),
                    "source_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "source_b")
                          .withColumnRenamed("n_shingles", "n_b")),
              "source_b")
        .select(
            "source_a", "source_b", "n_shared",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.col("n_shared").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
            .alias("jaccard"),
        )
    )


def _dup_burden_oracle() -> str:
    return f"""
    WITH {lsh_verified_oracle()}
    SELECT least(sa.source, sb.source) AS source_x,
           greatest(sa.source, sb.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM verified v
    JOIN documents sa ON sa.doc_id = v.a_doc_id
    JOIN documents sb ON sb.doc_id = v.b_doc_id
    GROUP BY 1, 2
    """


@query("q_dedup_burden_matrix", oracle=_dup_burden_oracle(),
       tags=("L1", "dedup", "attribution"))
def q_dedup_burden_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATION-BURDEN ATTRIBUTION: verified near-dup pairs counted
    per unordered SOURCE pair — the operational view that turns "the
    corpus is 12% duplicated" into "feed C re-crawls feed A" (fix the
    ingest) vs "feed D duplicates itself" (fix the crawler). Composes
    the green md5-LSH→verify pair relation with two id-keyed source
    lookups and a 15-cell aggregate; the least/greatest fold makes the
    matrix upper-triangular deterministically. Same scale posture as
    the pair source: shuffles carry ids and band hashes, never text."""
    d = load(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(d)
    sa = d.select(F.col("doc_id").alias("a_doc_id"),
                  F.col("source").alias("src_a"))
    sb = d.select(F.col("doc_id").alias("b_doc_id"),
                  F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "a_doc_id").join(sb, "b_doc_id")
        .groupBy(F.least("src_a", "src_b").alias("source_x"),
                 F.greatest("src_a", "src_b").alias("source_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


# ---- Prefix-filtered exact Jaccard join (L1k) ------------------------------

# Threshold as an exact rational (4/5 = 0.8): both the prefix length and
# the verify comparison stay in integer arithmetic, so no engine ever
# rounds a float at the decision boundary.
PREFIX_T_NUM, PREFIX_T_DEN = 4, 5


@query(
    "q_dedup_prefix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i + 1, i + {SHINGLE_N}), ' ')
               AS shingle
      FROM toks,
           UNNEST(range(0, greatest(len(w) - {SHINGLE_N}, 0) + 1)) AS u(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS it
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT da, db, it, sa.sz + sb.sz - it AS un
      FROM inter
      JOIN sz sa ON da = sa.doc_id
      JOIN sz sb ON db = sb.doc_id
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(it AS BIGINT) AS inter_size,
           CAST(un AS BIGINT) AS union_size,
           CAST(it AS DOUBLE) / un AS jaccard
    FROM j
    WHERE {PREFIX_T_DEN} * it >= {PREFIX_T_NUM} * un
    """,
    tags=("L1", "dedup", "prefix-filter"),
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED EXACT JACCARD SELF-JOIN (AllPairs/PPJoin family):
    every document pair with shingle-set Jaccard >= 0.8, found WITHOUT
    hashing and WITHOUT all-pairs comparison. Complementary to
    MinHash-LSH (q_dedup_lsh_verified): LSH is probabilistic (recall <
    1, tunable), the prefix filter is exact by a combinatorial argument
    — order the vocabulary globally (rarest shingle first), keep only
    each document's first |x| - ceil(t*|x|) + 1 shingles as its
    "prefix", and any pair meeting the threshold MUST collide on at
    least one prefix shingle (if two sets disagree on all of either
    prefix, too few shingles remain to reach t). The oracle is the
    unfiltered brute-force join, so a green row proves recall = 1.0
    exactly, not approximately.

    Scale shape: candidate generation joins PREFIX postings only —
    rarest-first ordering makes prefix postings short and their
    buckets small (the frequent shingles that would explode a postings
    join never enter a prefix at high t). The shuffle carries (shingle,
    doc_id) for prefixes, then (pair) for the verify join; the full
    shingle relation is touched only for candidates' intersection
    counts. Threshold arithmetic is exact-rational (integers 4/5), so
    prefix lengths and accept decisions are bit-identical in any
    engine. All set sizes are ints; the reported jaccard is one
    int-ratio division (deterministic IEEE).

    Measured at sf0.1 (5k docs, 260k distinct shingle rows): prefix
    postings 55k rows -> 119k candidates vs 1.13M all-shared-shingle
    pairs (~10x structural pruning; the residue is the corpus's
    template vocabulary surviving into prefixes at t=0.8), 256 final
    pairs, 6.0 s warm. The shingle relation is not shared:
    ReusedExchange already dedupes the explode across the five
    consuming branches."""
    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    return prefix_jaccard_pairs(sh)


def prefix_jaccard_pairs(sh: DataFrame,
                         t_num: int = PREFIX_T_NUM,
                         t_den: int = PREFIX_T_DEN) -> DataFrame:
    """Prefix-filtered exact Jaccard >= t_num/t_den self-join over a
    DISTINCT (doc_id, shingle) relation. Library form of q_dedup_prefix
    (which documents the algorithm and the measurements): callers bring
    any tokenization; the recall-1.0 guarantee and the exact-rational
    threshold arithmetic live here. Property-tested against a naive
    all-pairs Python model on adversarial inputs
    (tests/test_properties_r8.py)."""
    from pyspark.sql import Window

    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    # Global rarest-first order realized as a per-doc rank: each doc
    # sorts its own shingles by (df, shingle) — a bounded per-doc
    # window, never a global sort of the vocabulary.
    ranked = (
        sh.join(df_freq, "shingle")
        .join(sz, "doc_id")
        .withColumn("r", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")))
    )
    # prefix length = sz - ceil(t*sz) + 1, all-integer:
    # ceil(4*sz/5) = floor((4*sz + 4) / 5); the float quotient of two
    # bounded ints never rounds across an integer (k/5 is >= 1/5 from
    # any integer when fractional), so floor is exact.
    ceil_t_sz = F.floor(
        (t_num * F.col("sz") + (t_den - 1)) / t_den)
    prefix = ranked.where(F.col("r") <= F.col("sz") - ceil_t_sz + 1)

    a = prefix.select(F.col("doc_id").alias("da"), "shingle")
    b = prefix.select(F.col("doc_id").alias("db"), "shingle")
    cands = (
        a.join(b, "shingle")
        .where(F.col("da") < F.col("db"))
        .select("da", "db").distinct()
    )

    sha = sh.select(F.col("doc_id").alias("da"),
                    F.col("shingle").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("db_v"),
                    F.col("shingle").alias("sh_b"))
    inter = (
        cands.join(sha, "da")
        .join(shb, (F.col("db") == F.col("db_v"))
              & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("da", "db").agg(F.count(F.lit(1)).alias("it"))
    )
    sza = sz.select(F.col("doc_id").alias("da"), F.col("sz").alias("sz_a"))
    szb = sz.select(F.col("doc_id").alias("db"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sza, "da").join(szb, "db")
        .withColumn("un", F.col("sz_a") + F.col("sz_b") - F.col("it"))
        .where(t_den * F.col("it") >= t_num * F.col("un"))
        .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
                F.col("it").cast("bigint").alias("inter_size"),
                F.col("un").cast("bigint").alias("union_size"),
                (F.col("it").cast("double") / F.col("un"))
                .alias("jaccard"))
    )


# ---- LSH band planner (L1q) ---------------------------------------------------

# Band-planner constants: the harness's adversarial cosine threshold
# (COSINE_DUP_THRESHOLD) and a standard 0.9 recall target. The planner
# sweeps bits-per-band r over the range a 100 TB deployment would ever
# consider (2..24: below 2 every pair collides, above ~log2(N)+8 the
# bands stop pruning anything new).
LSH_PLAN_R_MIN = 2
LSH_PLAN_R_MAX = 24
LSH_PLAN_LINEAR_FACTOR = 8  # "linear" = expected random candidates <= 8N


def _lsh_plan_oracle() -> str:
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    pb AS (
      SELECT CAST(CAST(1.0 - acos(CAST({COSINE_DUP_THRESHOLD} AS DOUBLE))
                        / pi() AS DECIMAL(18,9)) AS DOUBLE) AS p
    ),
    geo AS (
      SELECT r, n, p,
             CAST(CAST(pow(p, r) AS DECIMAL(18,9)) AS DOUBLE) AS pband,
             CAST(1 << r AS BIGINT) AS two_r
      FROM range({LSH_PLAN_R_MIN}, {LSH_PLAN_R_MAX} + 1) t(r), nn, pb
    ),
    planned AS (
      SELECT *,
             CAST(ceil(CAST(ln(CAST(0.1 AS DOUBLE)) / ln(1.0 - pband)
                            AS DECIMAL(18,6))) AS BIGINT) AS nbands
      FROM geo
    )
    SELECT CAST(r AS BIGINT) AS bits_per_band,
           nbands AS bands,
           CAST(CAST(1.0 - pow(1.0 - pband, nbands) AS DECIMAL(18,6))
                AS DOUBLE) AS exp_recall,
           CAST(1.0 AS DOUBLE) / two_r AS rand_band_rate,
           nbands * (CAST(n AS DOUBLE) * (n - 1) / 2.0) / two_r
             AS exp_random_candidates,
           (nbands * (CAST(n AS DOUBLE) * (n - 1) / 2.0) / two_r)
             <= {LSH_PLAN_LINEAR_FACTOR}.0 * n AS candidates_linear,
           (two_r >= n AND two_r < 2 * n) AS log2n_bits
    FROM planned
    """


@query("q_dedup_lsh_plan", oracle=_lsh_plan_oracle(),
       tags=("L1q", "dedup", "lsh", "planner"))
def q_dedup_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH BAND PLANNER — turns the round-10 decade finding
    (candidates grow quadratically at FIXED band width; SCALE.md
    decade finding #2) into a PLANNED trade: for the corpus size N and
    the harness threshold, emit for every bits-per-band r the band
    count that holds the recall target, the per-band random-collision
    rate 2^-r, the expected decorrelated-corpus candidate volume
    bands·(N choose 2)·2^-r, whether that volume stays linear
    (≤ {LSH_PLAN_LINEAR_FACTOR}·N), and which r satisfies the
    documented r ~ log2(N) sizing rule (2^r ≥ N > 2^(r-1), computed
    integer-exact via bit shift — no float log at a ceil boundary).

    Closed forms (Charikar SRP): a bit agrees on a pair at cosine s
    with p = 1 − acos(s)/π; a band of r bits collides with p^r; L
    bands reach recall 1 − (1−p^r)^L, so holding recall R needs
    L = ceil(ln(1−R)/ln(1−p^r)).

    Cross-engine determinism: every transcendental output is quantized
    (9 dp for probabilities, 6 dp before the single ceil boundary and
    for reported recall) so both engines proceed from identical
    rationals; the candidate-volume arithmetic is pure IEEE ×/÷ of
    exact integers — deterministic everywhere, and deliberately NOT
    decimal-quantized (÷2^r yields exact binary fractions that land on
    decimal ties, where Spark rounds HALF_UP and DuckDB half-to-even —
    the r10 truncation gotcha's sibling); the rule test is
    integer-only. Metadata-scale throughout: ~23 rows from one
    corpus-count aggregate."""
    n = load(spark, sf_dir, "embeddings").count()
    rows = spark.range(LSH_PLAN_R_MIN, LSH_PLAN_R_MAX + 1) \
        .select(F.col("id").alias("r"))
    p = F.expr(
        f"CAST(CAST(1.0 - acos(CAST({COSINE_DUP_THRESHOLD} AS DOUBLE))"
        f" / pi() AS DECIMAL(18,9)) AS DOUBLE)")
    geo = rows.select(
        "r", F.lit(n).alias("n"),
        F.pow(p, F.col("r")).cast("decimal(18,9)").cast("double")
        .alias("pband"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(r AS INT))")
        .alias("two_r"))
    planned = geo.withColumn(
        "nbands",
        F.ceil((F.log(F.lit(0.1)) / F.log(1.0 - F.col("pband")))
               .cast("decimal(18,6)")).cast("bigint"))
    exp_cands = (F.col("nbands")
                 * (F.col("n").cast("double") * (F.col("n") - 1) / 2.0)
                 / F.col("two_r"))
    return planned.select(
        F.col("r").cast("bigint").alias("bits_per_band"),
        F.col("nbands").alias("bands"),
        (1.0 - F.pow(1.0 - F.col("pband"), F.col("nbands")))
        .cast("decimal(18,6)").cast("double").alias("exp_recall"),
        (F.lit(1.0) / F.col("two_r")).alias("rand_band_rate"),
        exp_cands.alias("exp_random_candidates"),
        (exp_cands <= F.lit(float(LSH_PLAN_LINEAR_FACTOR)) * F.col("n"))
        .alias("candidates_linear"),
        ((F.col("two_r") >= F.col("n"))
         & (F.col("two_r") < 2 * F.col("n"))).alias("log2n_bits"))


# ---- MinHash estimator-error audit (L1w) -------------------------------------


def _minhash_error_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(MD5_MINHASH_K))
    return f"""
    WITH {lsh_verified_oracle()}
    SELECT c.a_doc_id, c.b_doc_id,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST(({agree}) AS DOUBLE) / {MD5_MINHASH_K} AS jaccard_est,
           c.jaccard AS jaccard_exact,
           CAST(CAST(abs(
             CAST(({agree}) AS DOUBLE) / {MD5_MINHASH_K} - c.jaccard)
             AS DECIMAL(18,6)) AS DOUBLE) AS abs_err
    FROM scored c
    JOIN sig sa ON sa.doc_id = c.a_doc_id
    JOIN sig sb ON sb.doc_id = c.b_doc_id
    """


@query("q_dedup_minhash_error", oracle=_minhash_error_oracle(),
       tags=("L1w", "dedup", "audit", "minhash"))
def q_dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR-ERROR AUDIT: for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (agreeing positions / k — the
    number the banding DECIDES with) next to the exact word-set Jaccard
    (the number the verify stage PAYS for), and their absolute error —
    the measured answer to "is k={MD5_MINHASH_K} enough?", whose
    theoretical bound (sd ≈ √(J(1−J)/k) ≤ 0.125 at k=16) this audit
    makes checkable per corpus. q_dedup_recall_lsh audits WHICH pairs
    the bucketing finds; this audits HOW WELL the sketch values track
    truth on them — together they are the full sketch-quality story
    (the A4/A21 tolerance-audit discipline applied to MinHash).

    Engine-exact, not tolerance-gated: the md5-hex MinHash family is
    bit-identical across engines, agreement counts are integers,
    /{MD5_MINHASH_K} is exact binary scaling, and the exact Jaccard is
    one rational division — only the final abs-difference is quantized.
    Scale: candidates track true duplicates (banded, never n²); the
    audit joins signatures and word sets only for candidate rows."""
    d = load(spark, sf_dir, "documents")
    # share both audit inputs (r15): the signature relation feeds
    # the banding AND both compare sides (sa, sb), the word-set
    # relation both exact sides (wa, wb) — aliased branches do not
    # exchange-reuse, so without sharing the shingle explode +
    # 16-way min aggregation and the tokenize each ran twice more per
    # call (the lsh_verified_pairs words pathology).
    sig = share(md5_minhash_signatures(d))
    cand = md5_lsh_candidates(sig)
    sa = sig.select(F.col("doc_id").alias("a_doc_id"),
                    *[F.col(f"m{i}").alias(f"a{i}")
                      for i in range(MD5_MINHASH_K)])
    sb = sig.select(F.col("doc_id").alias("b_doc_id"),
                    *[F.col(f"m{i}").alias(f"b{i}")
                      for i in range(MD5_MINHASH_K)])
    words = share(
        d.select("doc_id",
                 F.array_distinct(tokens(F.col("text"))).alias("w")))
    wa = words.select(F.col("doc_id").alias("a_doc_id"),
                      F.col("w").alias("wa"))
    wb = words.select(F.col("doc_id").alias("b_doc_id"),
                      F.col("w").alias("wb"))
    agree = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(MD5_MINHASH_K)),
        start=F.lit(0),
    )
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.greatest(
        F.size("wa") + F.size("wb") - inter, F.lit(1))
    est = agree.cast("double") / MD5_MINHASH_K
    exact = inter.cast("double") / union
    return (cand.join(sa, "a_doc_id").join(sb, "b_doc_id")
            .join(wa, "a_doc_id").join(wb, "b_doc_id")
            .select("a_doc_id", "b_doc_id",
                    agree.cast("bigint").alias("n_agree"),
                    est.alias("jaccard_est"),
                    exact.alias("jaccard_exact"),
                    F.abs(est - exact).cast("decimal(18,6)")
                    .cast("double").alias("abs_err")))
