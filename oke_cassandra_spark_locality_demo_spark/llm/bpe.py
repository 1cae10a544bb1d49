"""Distributed BPE-merge tokenizer training — the tokenizer-learning
step of an LLM data pipeline, expressed Spark-first.

The trainer follows the word-count formulation every production BPE
implementation uses (Sennrich et al. 2016 "Neural Machine Translation
of Rare Words with Subword Units"; Hugging Face tokenizers trains the
same way): ONE corpus scan aggregates word → count, and every merge
iteration then runs on the vocabulary-bounded distinct-word table,
never re-touching the corpus. At 100 TB that means the corpus
contributes exactly one map-side-combinable aggregate; the per-merge
work is proportional to |vocab| (millions of rows), and the only
driver-side state is the single argmax (pair, count) row per iteration
plus the merge table itself — the same bounded-state shape as the IVF
quantizer loop (ivf.kmeans_centroids).

Merge application uses literal space-delimited symbol-string REPLACE,
run in TWO passes per iteration. Both engines scan the SOURCE string
left-to-right without rescanning replaced output, so one pass merges
the 1st/3rd/5th… occurrences of an immediately-adjacent chain (the
match consumes the shared trailing space, hiding the next occurrence)
and the second pass merges the now-isolated even occurrences — two
passes always reach the no-occurrence fixpoint. Within runs of one
repeated symbol the pass pairing can differ from strict left-to-right
greedy pairing (e.g. "a a a a a" → [aa, a, aa] rather than
[aa, aa, a]); both are valid BPE tie-resolutions, and because Spark's
`replace` and DuckDB's `REPLACE` share the scan semantics, the engines
agree bit-for-bit — which is what the oracle checks. Pair selection
ties break (count DESC, pair ASC) identically on both engines.

Reference parity note: the reference system exposes no tokenizer
training; this operator is part of the training-data-pipeline mandate
(SURVEY.md §2.3, LLM block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

K_MERGES = 3  #: merge iterations (unrolled verbatim in the oracle SQL)


def _bpe_oracle(k: int) -> str:
    """DuckDB oracle: the identical trainer unrolled to ``k`` merges.

    Each iteration is three CTEs — pair counts over the current symbol
    strings, the argmax pair, and the two-pass REPLACE application —
    textually chained so the oracle executes the exact same algorithm
    the Spark loop runs."""
    parts = [
        r"""
    WITH wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wn FROM (
            SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
            FROM documents
        ) WHERE LENGTH(word) > 0 GROUP BY word
    ),
    s0 AS (
        SELECT wn,
               ' ' || TRIM(REGEXP_REPLACE(word, '(.)', '\1 ', 'g')) || ' '
                   AS syms
        FROM wc
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
    p{i} AS (
        SELECT pair, CAST(SUM(wn) AS BIGINT) AS cnt FROM (
            SELECT wn,
                   UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
                          j -> toks[j] || ' ' || toks[j+1])) AS pair
            FROM (SELECT wn, STRING_SPLIT(TRIM(syms), ' ') AS toks
                  FROM s{i - 1})
            WHERE LEN(toks) >= 2
        ) GROUP BY pair
    ),
    m{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
    s{i} AS (
        -- COALESCE sentinel: when the corpus runs out of learnable
        -- merges before iteration {i} (m{i} empty), the scalar
        -- subquery is NULL and a bare REPLACE(syms, NULL, ...) would
        -- null EVERY symbol string (and the encode oracle's vocab with
        -- it) while the Spark trainer just breaks early; the
        -- never-occurring sentinel makes the replace a no-op instead.
        -- The final merge-table SELECT needs no guard — an empty m{i}
        -- simply contributes no row, matching the Spark break.
        SELECT wn, REPLACE(REPLACE(syms,
            ' ' || COALESCE((SELECT pair FROM m{i}), CHR(1)) || ' ',
            ' ' || COALESCE((SELECT REPLACE(pair, ' ', '') FROM m{i}), CHR(1)) || ' '),
            ' ' || COALESCE((SELECT pair FROM m{i}), CHR(1)) || ' ',
            ' ' || COALESCE((SELECT REPLACE(pair, ' ', '') FROM m{i}), CHR(1)) || ' ') AS syms
        FROM s{i - 1}
    )"""
        )
    selects = [
        f"""
        SELECT {i} AS merge_rank,
               SPLIT_PART(pair, ' ', 1) AS left_sym,
               SPLIT_PART(pair, ' ', 2) AS right_sym,
               REPLACE(pair, ' ', '') AS merged_sym,
               cnt AS pair_count
        FROM m{i}"""
        for i in range(1, k + 1)
    ]
    parts.append(
        "\n    SELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY merge_rank"
    )
    return "".join(parts)


def train_bpe_merges(
    spark: SparkSession, sf_dir: str, k: int = K_MERGES
) -> list[tuple]:
    """Run the word-count BPE trainer; returns
    [(merge_rank, left_sym, right_sym, merged_sym, pair_count), ...].

    The word-count table is cached for the k iterations (vocab-bounded,
    kilobytes at fixture scale, ~|vocab| rows at 100 TB) and released
    before return. Each registered BPE key trains its own merges."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
        # ' a b c ' — symbols space-delimited with sentinel padding so a
        # literal ' x y ' REPLACE can never match across word edges
        .select(
            "wn",
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("syms"),
        )
        .cache()
    )
    merges: list[tuple] = []
    cur = wc
    try:
        for rank in range(1, k + 1):
            toks = F.split(F.trim(F.col("syms")), " ")
            pairs = (
                cur.withColumn("toks", toks)
                # guard BEFORE sequence(): sequence(1, 0) would DESCEND
                .filter(F.size("toks") >= 2)
                .select(
                    "wn",
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(toks) - 1), "
                            "j -> concat(element_at(toks, j), ' ', "
                            "element_at(toks, j + 1)))"
                        )
                    ).alias("pair"),
                )
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("wn").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break  # every word is a single symbol — nothing to merge
            pair, cnt = top[0]["pair"], int(top[0]["cnt"])
            left, right = pair.split(" ")
            merged = left + right
            merges.append((rank, left, right, merged, cnt))
            hit, rep = F.lit(f" {left} {right} "), F.lit(f" {merged} ")
            cur = cur.select(
                "wn",
                F.replace(F.replace(F.col("syms"), hit, rep), hit, rep).alias(
                    "syms"
                ),
            )
    finally:
        wc.unpersist(blocking=False)
    return merges


@register("q_text_bpe_train", oracle=_bpe_oracle(K_MERGES))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (module docstring has the full design):
    learn K_MERGES merges over the corpus and emit the merge table —
    (rank, left, right, merged, exact weighted pair count). All-integer/
    string emission; the oracle runs the identical unrolled algorithm in
    SQL, so pair counts, tie-breaks, and merge application are checked
    bit-for-bit."""
    merges = train_bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged_sym string, pair_count bigint",
    ).orderBy("merge_rank")


def _encode_oracle(k: int) -> str:
    """DuckDB oracle for q_text_bpe_encode: the trainer CTE chain up to
    s{k} (whose symbol strings ARE the encoded words), re-joined to the
    per-document token stream. The word identity is recovered from the
    final symbol string by deleting spaces — merges only ever remove
    internal separators, so despacing is the inverse of the s0 char
    split for every word."""
    trainer = _bpe_oracle(k)
    # reuse the trainer's WITH-chain verbatim, swap the final SELECT
    head = trainer[: trainer.rindex("\n    SELECT * FROM (")]
    return (
        head
        + f""",
    vocab AS (
        SELECT REPLACE(TRIM(syms), ' ', '') AS word,
               CAST(LEN(STRING_SPLIT(TRIM(syms), ' ')) AS BIGINT) AS n_syms
        FROM s{k}
    ),
    tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
        FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_syms) AS BIGINT) AS n_subwords,
           CAST(SUM(LENGTH(t.word)) AS BIGINT) AS n_chars
    FROM tok t JOIN vocab v USING (word)
    WHERE LENGTH(t.word) > 0
    GROUP BY t.doc_id
    """
    )


@register("q_text_bpe_encode", oracle=_encode_oracle(K_MERGES))
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE encoding with the trained merges: per document,
    whitespace word count, subword token count after K_MERGES merges,
    and character count — the tokens-per-doc accounting a pretraining
    data pipeline runs after tokenizer training (sequence budgeting,
    compression-ratio QA).

    Scale shape: the merges come from train_bpe_merges; the encode
    table (word → subword count) is built by applying the merge
    REPLACEs to the DISTINCT-word table — vocabulary-bounded work, one
    shuffle — and the corpus-sized token stream then joins it on the
    word key. The join is left to AQE (vocabulary is unbounded at
    100 TB — same no-pinned-broadcast policy as q_text_tfidf/pmi); the
    per-doc rollup is one hash aggregate. All-integer emissions."""
    merges = train_bpe_merges(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    syms = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for _, left, right, merged, _cnt in merges:
        hit, rep = F.lit(f" {left} {right} "), F.lit(f" {merged} ")
        syms = F.replace(F.replace(syms, hit, rep), hit, rep)
    vocab = (
        tok.select("word")
        .distinct()
        .select("word", F.size(F.split(F.trim(syms), " ")).cast("long").alias("n_syms"))
    )
    return (
        tok.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_subwords"),
            F.sum(F.length("word")).alias("n_chars"),
        )
    )

def _fertility_oracle(k: int) -> str:
    """DuckDB oracle for q_text_bpe_fertility: the trainer CTE chain up
    to s{k} (as in _encode_oracle), rolled up per LANGUAGE instead of
    per document."""
    trainer = _bpe_oracle(k)
    head = trainer[: trainer.rindex("\n    SELECT * FROM (")]
    return (
        head
        + f""",
    vocab AS (
        SELECT REPLACE(TRIM(syms), ' ', '') AS word,
               CAST(LEN(STRING_SPLIT(TRIM(syms), ' ')) AS BIGINT) AS n_syms
        FROM s{k}
    ),
    tok AS (
        SELECT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
        FROM documents
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_syms) AS BIGINT) AS n_subwords,
           CAST(SUM(LENGTH(t.word)) AS BIGINT) AS n_chars,
           CAST(ROUND(SUM(v.n_syms) * 1000000.0 / COUNT(*)) AS BIGINT)
               AS fertility_ppm,
           CAST(ROUND(SUM(LENGTH(t.word)) * 1000000.0 / SUM(v.n_syms))
                AS BIGINT) AS chars_per_subword_ppm
    FROM tok t JOIN vocab v USING (word)
    WHERE LENGTH(t.word) > 0
    GROUP BY t.lang
    ORDER BY t.lang
    """
    )


@register("q_text_bpe_fertility", oracle=_fertility_oracle(K_MERGES))
def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY audit — subwords emitted per
    whitespace word under the trained merges. Multilingual pipelines run
    exactly this check after tokenizer training (tokenizer-parity /
    premium studies, e.g. Rust et al. 2021; Petrov et al. 2023): a
    tokenizer trained on skewed data segments under-represented
    languages into more pieces, inflating their effective sequence
    length and training cost. Emits per-language word/subword/char
    totals plus fertility and compression ratios in integer ppm.

    Scale shape: identical to q_text_bpe_encode (trained merges,
    vocabulary-bounded encode table, AQE-decided token-stream join) —
    the only difference is the rollup key (lang, cardinality ~dozens,
    vs doc_id), so the final aggregate is map-side-combinable down to a
    handful of rows. fertility/compression are scale-0 ROUNDs of
    identically derived int ratios (the portable class)."""
    merges = train_bpe_merges(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    syms = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for _, left, right, merged, _cnt in merges:
        hit, rep = F.lit(f" {left} {right} "), F.lit(f" {merged} ")
        syms = F.replace(F.replace(syms, hit, rep), hit, rep)
    vocab = (
        tok.select("word")
        .distinct()
        .select(
            "word", F.size(F.split(F.trim(syms), " ")).cast("long").alias("n_syms")
        )
    )
    return (
        tok.join(vocab, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_subwords"),
            F.sum(F.length("word")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            "n_chars",
            F.round(F.col("n_subwords") * 1000000.0 / F.col("n_words"), 0)
            .cast("long")
            .alias("fertility_ppm"),
            F.round(F.col("n_chars") * 1000000.0 / F.col("n_subwords"), 0)
            .cast("long")
            .alias("chars_per_subword_ppm"),
        )
        .orderBy("lang")
    )
