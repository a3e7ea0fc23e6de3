"""In-engine BPE tokenizer training (SURVEY.md §2.11 L3 family): the
iterative merge-learning loop every modern tokenizer (GPT-2/LLaMA BPE)
runs before a corpus can be token-counted, expressed as pure relational
rounds — the engine-side answer to "train the tokenizer ON the corpus
you are curating", next to functions/text.py's pretokenizer (which
consumes merges like the ones learned here).

One BPE round = (1) count adjacent symbol pairs weighted by word
frequency, (2) pick the most frequent pair, (3) re-segment every word by
merging that pair greedily left-to-right. Here ``N_MERGES`` rounds are
unrolled into one Catalyst plan over the word-frequency relation, the
same unrolled-iteration discipline as clustering's k-means step and
similarity's power-iteration PCA:

- Words are carried as bracketed symbol strings ``⟨h⟩⟨e⟩⟨y⟩`` — the
  brackets make "replace pair (a,b)" a plain substring replace
  ``⟨a⟩⟨b⟩ -> ⟨ab⟩`` whose left-to-right non-overlap semantics (Java,
  DuckDB and Python agree) is EXACTLY BPE's greedy merge order, with no
  false sub-symbol matches (a bracketed pair can only match at symbol
  boundaries).
- Pair counting explodes each word's zipped (sym, next-sym) list — the
  shuffle carries the VOCABULARY (distinct words × avg word length),
  never the corpus: the only corpus-sized pass is the initial word
  count, after which every round runs on vocab-scale data. That is why
  this survives 100 TB: real BPE trainers do the same collapse.
- Each round's winning pair is a 1-row broadcast joined back to the
  vocab — bounded metadata, no driver loop, no collect.

Oracle: the identical rounds in DuckDB CTEs (list_zip pair counts,
same replace), generated by the same Python loop so round counts can
never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..materialize import share
from ..registry import query

N_MERGES = 4

# Symbol bracket characters: outside the corpus alphabet (plain words),
# so bracketed pairs can only match at symbol boundaries.
_L, _R = "⟨", "⟩"  # ⟨ ⟩


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the bracketed seq column."""
    syms = F.regexp_extract_all("seq", F.lit(f"{_L}([^{_R}]+){_R}"), 1)
    return (
        vocab.select("freq", syms.alias("syms"))
        .select("freq", F.explode(F.arrays_zip(
            F.col("syms").alias("l"),
            F.expr("slice(syms, 2, size(syms))").alias("r"))).alias("p"))
        .where(F.col("p.r").isNotNull())
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _top_pair(pairs: DataFrame) -> DataFrame:
    return pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1)


def _apply_merge(vocab: DataFrame, top: DataFrame) -> DataFrame:
    """Greedy left-to-right merge of the winning pair in every word."""
    pat = F.concat(F.lit(_L), F.col("l"), F.lit(_R),
                   F.lit(_L), F.col("r"), F.lit(_R))
    rep = F.concat(F.lit(_L), F.col("l"), F.col("r"), F.lit(_R))
    return (
        vocab.crossJoin(F.broadcast(top))
        .select("word", "freq",
                F.replace("seq", pat, rep).alias("seq"))
    )


def bpe_train(spark: SparkSession, sf_dir: str,
              n_merges: int = N_MERGES) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns one row per round.

    Each round's vocab (and its 1-row winning pair) is materialized
    with ``share`` (r15 opt, guide §3.3 "very
    wide plans: materialise an intermediate to truncate the plan"):
    without it, round k's relation re-derives the whole merge chain
    from the corpus-sized word count — the final 4-round plan carried
    THIRTY duplicated corpus scans, contradicting this module's "one
    corpus-sized pass" contract. Sharing pins exactly one corpus
    scan plus one vocab-scale materialization per round (what a real
    trainer's staging-table write does); the plan shape is committed
    in plans/r15/q_text_bpe_merges_{before,after}.txt."""
    vocab = share(_word_freq(spark, sf_dir).select(
        "word", "freq",
        F.regexp_replace("word", "(.)", f"{_L}$1{_R}").alias("seq"),
    ))
    out = None
    for k in range(1, n_merges + 1):
        top = share(_top_pair(_pair_counts(vocab)))
        row = top.select(
            F.lit(k).alias("merge_round"),
            F.col("l").alias("left_sym"), F.col("r").alias("right_sym"),
            F.col("cnt").cast("bigint").alias("pair_count"))
        out = row if out is None else out.unionAll(row)
        if k < n_merges:
            vocab = share(_apply_merge(vocab, top))
    return out


def _oracle(n_merges: int = N_MERGES) -> str:
    ctes = [f"""
    w0 AS (
      SELECT word, freq,
             regexp_replace(word, '(.)', '{_L}\\1{_R}', 'g') AS seq
      FROM (
        SELECT u.word AS word, COUNT(*) AS freq
        FROM documents, UNNEST(string_split(text, ' ')) AS u(word)
        WHERE u.word <> '' GROUP BY 1
      )
    )"""]
    for k in range(1, n_merges + 1):
        ctes.append(f"""
    p{k} AS (
      SELECT u.p[1] AS l, u.p[2] AS r, SUM(freq) AS cnt
      FROM (SELECT freq,
                   regexp_extract_all(seq, '{_L}([^{_R}]+){_R}', 1)
                     AS syms
            FROM w{k-1}),
           UNNEST(list_zip(syms, syms[2:])) AS u(p)
      WHERE u.p[2] IS NOT NULL
      GROUP BY 1, 2
    ),
    t{k} AS (SELECT * FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
    w{k} AS (
      SELECT word, freq,
             replace(seq, '{_L}' || l || '{_R}{_L}' || r || '{_R}',
                     '{_L}' || l || r || '{_R}') AS seq
      FROM w{k-1}, t{k}
    )""")
    finals = [f"SELECT {k} AS merge_round, l AS left_sym, r AS right_sym,"
              f" CAST(cnt AS BIGINT) AS pair_count FROM t{k}"
              for k in range(1, n_merges + 1)]
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@query("q_text_bpe_merges", oracle=_oracle(), tags=("L3", "bpe", "text"))
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {N_MERGES} BPE merges learned from the documents corpus:
    per round, the merged pair and its weighted frequency. See module
    docstring for the scale argument (corpus collapses to vocab before
    any iteration; rounds are vocab-scale; winners broadcast)."""
    return bpe_train(spark, sf_dir)


def _sym_count(col: str = "seq"):
    return F.size(F.regexp_extract_all(
        col, F.lit(f"{_L}([^{_R}]+){_R}"), 1))


def _trained_seq_vocab(spark: SparkSession, sf_dir: str,
                       n_merges: int = N_MERGES) -> DataFrame:
    """(word, freq, seq) after ``n_merges`` trained rounds — the
    apply-side twin of ``bpe_train``, with the same per-round
    ``share`` discipline (r15): without it the unrolled
    merge chain re-derived the corpus-sized word count once per round
    reference (17 corpus scans in the tokenize/token-budget plans).
    One corpus scan, then vocab-scale rounds."""
    vocab = share(_word_freq(spark, sf_dir).select(
        "word", "freq",
        F.regexp_replace("word", "(.)", f"{_L}$1{_R}").alias("seq"),
    ))
    for _ in range(n_merges):
        top = share(_top_pair(_pair_counts(vocab)))
        vocab = share(_apply_merge(vocab, top))
    return vocab


@query(
    "q_text_bpe_tokenize",
    oracle=_oracle() .replace("WITH ", "WITH docs_w AS (\n"
    "      SELECT doc_id, u.word AS word\n"
    "      FROM documents, UNNEST(string_split(text, ' ')) AS u(word)\n"
    "      WHERE u.word <> ''\n    ),\n    ", 1)
    .split("\nSELECT 1 AS merge_round")[0] + f"""
    , tokmap AS (
      SELECT word,
             CAST(length(regexp_extract_all(seq, '{_L}([^{_R}]+){_R}'))
                  AS INT) AS n_tokens
      FROM w{N_MERGES}
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS INT) AS n_words,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_bpe_tokens
    FROM docs_w d JOIN tokmap t ON d.word = t.word
    GROUP BY d.doc_id
    """,
    tags=("L3", "bpe", "tokenize"),
)
def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer: per-document token counts under the
    {N_MERGES}-merge BPE vocabulary learned by q_text_bpe_merges — the
    train→apply loop closed in-engine (the count every token-budgeted
    sampling / packing stage keys on). The corpus is touched twice
    total (word-freq training pass + this word-explode), everything
    else is vocab-scale: the word→token-count map is one column over
    the trained vocab relation, joined back by word (broadcastable
    until vocabularies reach dim-table size, a plain shuffle join
    after)."""
    tokmap = _trained_seq_vocab(spark, sf_dir).select(
        "word", _sym_count().alias("n_tokens"))
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(tokmap, "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_words"),
             F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"))
    )


def _budget_oracle() -> str:
    from .sampling import TRAIN_NIBBLES, VAL_NIBBLES

    base = _oracle().replace("WITH ", "", 1) \
        .split("\nSELECT 1 AS merge_round")[0]
    return f"""
    WITH {base},
    tokmap AS (
      SELECT word,
             CAST(length(regexp_extract_all(seq, '{_L}([^{_R}]+){_R}'))
                  AS INT) AS n_tokens
      FROM w{N_MERGES}
    ), docs_w AS (
      SELECT d.doc_id, d.source, u.word AS word
      FROM documents d, UNNEST(string_split(text, ' ')) AS u(word)
      WHERE u.word <> ''
    )
    SELECT CASE
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN {tuple(TRAIN_NIBBLES)!r} THEN 'train'
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                  IN {tuple(VAL_NIBBLES)!r} THEN 'val'
             ELSE 'test'
           END AS split,
           d.source,
           CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_bpe_tokens
    FROM docs_w d JOIN tokmap t ON d.word = t.word
    GROUP BY 1, 2
    """


@query("q_pipeline_token_budget", oracle=_budget_oracle(),
       tags=("L3", "L5", "token-budget"))
def q_pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET REPORT: documents, words, and TRAINED-TOKENIZER
    tokens per (split, source) — the one table every training run is
    scoped by ("how many train tokens, from where"), computed under
    the corpus's own BPE vocabulary (q_text_bpe_merges) rather than a
    whitespace proxy, with the deterministic split assignment riding
    along. Composes the vocab-scale token map with one corpus explode
    and a splits×sources aggregate — the corpus is read once beyond
    the (already vocab-collapsing) training pass."""
    from .sampling import hash_split

    tokmap = _trained_seq_vocab(spark, sf_dir).select(
        "word", _sym_count().alias("n_tokens"))
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source",
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(tokmap, "word")
        .groupBy(hash_split(F.col("doc_id")).alias("split"), "source")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.count(F.lit(1)).cast("bigint").alias("n_words"),
             F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"))
    )
