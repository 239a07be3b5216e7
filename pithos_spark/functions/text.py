"""Text-analysis operators for training-data pipelines (north-star scope;
the reference has no text ops — these extend the engine over the driver's
``documents`` table).

All hot-path expressions are built-in column functions (JVM-side,
whole-stage codegen); nothing here drops to Python.  Ratios are computed
with a single double division after integer counting, so results are
engine-deterministic.

Scale: every operator is a narrow per-row projection + optional
aggregation — embarrassingly parallel, no shuffle except final rollups.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pithos_spark.functions.layoutcommit import (
    append_segment,
    live_staged_segs,
    read_current,
    read_tiny_rows,
    staged_counters,
)

# language marker words -> language code, smallest usable stopword sets.
# Deliberately tiny: the point is the operator shape (argmax over
# per-language hit counts), not lexical coverage.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "que", "es", "una"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS = LANG_MARKERS["en"]


def _tokens(col: F.Column) -> F.Column:
    return F.split(F.trim(col), r"\s+")


def _marker_hits(col: F.Column, words: list[str]) -> F.Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(col, F.lit(pat))


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token/char counts — the unit economics of a corpus.

    Token = whitespace-delimited run (the BPE-ish refinement lives in
    ``token_count_bpe`` below).
    """
    toks = _tokens(F.col("text"))
    # longs, not ints: the DuckDB oracle's length()/len() are BIGINT and
    # the driver compares schemas
    return documents.select(
        "doc_id",
        F.col("lang"),
        F.length("text").cast("long").alias("char_count"),
        F.size(toks).cast("long").alias("token_count"),
        (F.length("text") / F.size(toks)).alias("chars_per_token"),
    )


TOKEN_STATS_SQL = """\
SELECT doc_id, lang,
       length(text) AS char_count,
       len(regexp_split_to_array(trim(text), '\\s+')) AS token_count,
       length(text) * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS chars_per_token
FROM documents"""


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """BPE-ish token counting: words plus digit runs plus punctuation
    singles — the standard pre-tokenizer regex family.  Counted as
    non-overlapping regex matches, identical in Java regex and RE2."""
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return documents.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).cast("long").alias("bpe_token_count"),
    )


TOKEN_COUNT_BPE_SQL = """\
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_token_count
FROM documents"""


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Per-source tokenizer fertility: BPE-proxy tokens per whitespace
    word, in permille — the statistic a token-budget planner reads to
    convert corpus word counts into training-token counts (fertility
    varies strongly by source: code and non-Latin text fragment more).
    All-integer (1000 * bpe div words), so engine-exact.

    One scan, one bounded shuffle (|sources| groups), both counts
    computed scan-side with no UDF.
    """
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    base = documents.select(
        "source",
        F.regexp_count("text", F.lit(pat)).cast("long").alias("bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "words"
        ),
    )
    return (
        base.groupBy("source")
        .agg(
            F.sum("bpe").alias("bpe_tokens"),
            F.sum("words").alias("word_tokens"),
        )
        .select(
            "source",
            "bpe_tokens",
            "word_tokens",
            F.expr("(1000 * bpe_tokens) div word_tokens").alias(
                "fertility_permille"
            ),
        )
        .orderBy("source")
    )


TOKENIZER_FERTILITY_SQL = """\
WITH base AS (
    SELECT source,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS words
    FROM documents
), agg AS (
    SELECT source,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(words) AS BIGINT) AS word_tokens
    FROM base GROUP BY source
)
SELECT source, bpe_tokens, word_tokens,
       (1000 * bpe_tokens) // word_tokens AS fertility_permille
FROM agg
ORDER BY source"""


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, stopword ratio, repetition.

    ``stop_hits``/``token_count`` and the distinct-token ratio are the
    classic cheap filters (C4/Gopher-style) for corpus curation.
    """
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    stop_hits = _marker_hits(F.col("text"), STOPWORDS)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    return documents.select(
        "doc_id",
        F.length("text").cast("long").alias("char_count"),
        n_tok.cast("long").alias("token_count"),
        stop_hits.cast("long").alias("stop_hits"),
        (stop_hits / n_tok).alias("stop_ratio"),
        distinct_ratio.alias("distinct_token_ratio"),
        (
            (F.length("text") >= 50)
            & (n_tok >= 10)
            & (distinct_ratio >= 0.2)
        ).alias("passes_quality"),
    )


QUALITY_SCORE_SQL = """\
WITH base AS (
    SELECT doc_id, text,
           length(text) AS char_count,
           len(regexp_split_to_array(trim(text), '\\s+')) AS token_count,
           len(regexp_extract_all(text, '\\b(the|and|of|to|a|in|is)\\b')) AS stop_hits,
           len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS distinct_tokens
    FROM documents
)
SELECT doc_id, char_count, token_count, stop_hits,
       stop_hits * 1.0 / token_count AS stop_ratio,
       distinct_tokens * 1.0 / token_count AS distinct_token_ratio,
       (char_count >= 50 AND token_count >= 10
        AND distinct_tokens * 1.0 / token_count >= 0.2) AS passes_quality
FROM base"""


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-argmax language identification, compared against the
    labeled ``lang`` column.  Ties and zero-hit rows fall back to 'und'
    (undetermined) — deterministic because the argmax is over integer
    counts with a fixed language order."""
    hit_cols = [
        _marker_hits(F.col("text"), words).alias(f"hits_{code}")
        for code, words in LANG_MARKERS.items()
    ]
    scored = documents.select("doc_id", "lang", *hit_cols)
    codes = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{c}") for c in codes])
    pred = F.when(best == 0, F.lit("und"))
    for c in codes:  # first language (in fixed order) achieving the max wins
        pred = pred.when(F.col(f"hits_{c}") == best, F.lit(c))
    return (
        scored.select("doc_id", "lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


def _lang_sql_case() -> str:
    hits = {
        c: "len(regexp_extract_all(text, '\\b(" + "|".join(w) + ")\\b'))"
        for c, w in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n           ".join(
        f"WHEN {hits[c]} = {best} THEN '{c}'" for c in LANG_MARKERS
    )
    return (
        f"CASE WHEN {best} = 0 THEN 'und'\n           {whens}\n           END"
    )


LANGUAGE_ID_SQL = f"""\
WITH pred AS (
    SELECT doc_id, lang,
           {_lang_sql_case()} AS predicted_lang
    FROM documents
)
SELECT lang, predicted_lang, count(*) AS n_docs
FROM pred
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang"""


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over case-folded, whitespace-collapsed
    text — the canonical form used by exact dedup across formatting
    variants."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return documents.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("long").alias("normalized_len"),
    )


FINGERPRINT_SQL = """\
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS normalized_len
FROM documents"""


def bigram_lm(documents: DataFrame, top_k: int = 20) -> DataFrame:
    """Count-based bigram language model summary: the ``top_k`` most
    frequent bigrams with their integer conditional probability
    P(w2 | w1) in permille — the statistic a contamination detector or
    a cheap perplexity proxy reads.  All-integer (count div count), so
    the table is engine-exact.

    Scale: one shingle explode + two keyed aggregations; the bigram key
    space is bounded by vocabulary^2 but the heavy hitters this returns
    combine map-side.  Ties break lexicographically on the bigram.
    """
    toks = documents.select(
        "doc_id", _tokens(F.col("text")).alias("_toks")
    )
    t = F.col("_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, 2)))
    bi = toks.select(F.explode(grams).alias("bigram")).withColumn(
        "w1", F.split(F.col("bigram"), " ")[0]
    )
    counts = bi.groupBy("w1", "bigram").agg(F.count(F.lit(1)).alias("c2"))
    uni = counts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return (
        counts.join(uni, "w1")
        .select(
            "bigram",
            F.col("c2").alias("n_bigram"),
            F.expr("(1000 * c2) div c1").alias("cond_permille"),
        )
        .orderBy(F.col("n_bigram").desc(), "bigram")
        .limit(top_k)
    )


def bigram_lm_oracle(top_k: int = 20) -> str:
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks
), bi AS (
    SELECT array_to_string(t[i:i+1], ' ') AS bigram FROM idx
), counts AS (
    SELECT split_part(bigram, ' ', 1) AS w1, bigram, count(*) AS c2
    FROM bi GROUP BY 1, 2
), uni AS (
    SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM counts GROUP BY w1
)
SELECT bigram, c2 AS n_bigram, (1000 * c2) // c1 AS cond_permille
FROM counts JOIN uni USING (w1)
ORDER BY n_bigram DESC, bigram
LIMIT {top_k}"""


def perplexity_filter(
    documents: DataFrame, low: int = 200, high: int = 900
) -> DataFrame:
    """Perplexity-proxy quality filter over the corpus bigram LM (the
    CCNet/Gopher-style 'train a cheap LM, drop the tails' gate): each
    document is scored by the mean conditional probability of its
    bigrams under the corpus-wide count model — all-integer (permille
    conditionals, floor-div mean), so the gate is engine-exact.

    ``mean_cond_permille`` low => the doc's word transitions are rare in
    the corpus (noisy/garbled => verdict 'high_ppl'); high => the doc is
    near-deterministic boilerplate (verdict 'low_ppl'); the band between
    passes ('ok').  Self-scored here (the LM is built from the same
    corpus); a production pipeline scores against a held-out reference
    LM — same plan with the counts read from a table.

    Scale: one bigram explode; the LM join is keyed by the bigram
    (vocabulary^2-bounded — too large to broadcast, so it shuffles;
    at 100 TB pre-build the LM once and bucket both sides by bigram),
    then one doc-keyed aggregation.  No UDFs anywhere.
    """
    toks = documents.select("doc_id", _tokens(F.col("text")).alias("_toks"))
    t = F.col("_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, 2)))
    bi_doc = toks.select(
        "doc_id", F.explode(grams).alias("bigram")
    ).withColumn("w1", F.split(F.col("bigram"), " ")[0])
    counts = bi_doc.groupBy("w1", "bigram").agg(
        F.count(F.lit(1)).alias("c2")
    )
    uni = counts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = counts.join(uni, "w1").select(
        "bigram", F.expr("(1000 * c2) div c1").alias("cond_permille")
    )
    scored = (
        bi_doc.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(cond_permille) div count(1)").alias(
                "mean_cond_permille"
            ),
        )
    )
    verdict = (
        F.when(F.col("mean_cond_permille") < low, F.lit("high_ppl"))
        .when(F.col("mean_cond_permille") > high, F.lit("low_ppl"))
        .otherwise(F.lit("ok"))
    )
    return scored.select(
        "doc_id", "n_bigrams", "mean_cond_permille", verdict.alias("verdict")
    ).orderBy("doc_id")


def perplexity_filter_oracle(low: int = 200, high: int = 900) -> str:
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks
), bi_doc AS (
    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram FROM idx
), counts AS (
    SELECT split_part(bigram, ' ', 1) AS w1, bigram, count(*) AS c2
    FROM bi_doc GROUP BY 1, 2
), uni AS (
    SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM counts GROUP BY w1
), lm AS (
    SELECT bigram, (1000 * c2) // c1 AS cond_permille
    FROM counts JOIN uni USING (w1)
), scored AS (
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(cond_permille) AS BIGINT) // count(*) AS mean_cond_permille
    FROM bi_doc JOIN lm USING (bigram)
    GROUP BY doc_id
)
SELECT doc_id, n_bigrams, mean_cond_permille,
       CASE WHEN mean_cond_permille < {low} THEN 'high_ppl'
            WHEN mean_cond_permille > {high} THEN 'low_ppl'
            ELSE 'ok' END AS verdict
FROM scored
ORDER BY doc_id"""


def repetition_stats(documents: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style within-document repetition signal: the fraction of
    duplicate token ``n``-grams inside each doc, in permille
    (1000 * (total - distinct) div total; short docs with no full
    n-gram report 0).  High values flag boilerplate loops and generated
    spam — the standard cheap quality gate alongside length and
    stopword ratios.

    One explode + per-doc aggregation; integer output, engine-exact.
    """
    toks = documents.select(
        "doc_id", _tokens(F.col("text")).alias("_toks")
    )
    t = F.col("_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    per_doc = toks.select("doc_id", F.explode(grams).alias("g")).groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.countDistinct("g").alias("distinct_ngrams"),
    )
    return per_doc.select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        F.expr(
            "(1000 * (total_ngrams - distinct_ngrams)) div total_ngrams"
        ).alias("rep_permille"),
    ).orderBy("doc_id")


def repetition_stats_oracle(n: int = 3) -> str:
    k = n - 1
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - {k}, 1) + 1)) AS i FROM toks
), grams AS (
    SELECT doc_id, array_to_string(t[i:i+{k}], ' ') AS g FROM idx
), per_doc AS (
    SELECT doc_id, count(*) AS total_ngrams,
           count(DISTINCT g) AS distinct_ngrams
    FROM grams GROUP BY doc_id
)
SELECT doc_id, total_ngrams, distinct_ngrams,
       (1000 * (total_ngrams - distinct_ngrams)) // total_ngrams AS rep_permille
FROM per_doc
ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# Real BPE training (Sennrich et al., "Neural Machine Translation of Rare
# Words with Subword Units"): learn merge rules from the corpus.
# ---------------------------------------------------------------------------

_BPE_EOW = "</w>"


def _cp_truncate(col: F.Column, n: int) -> F.Column:
    """First ``n`` CODE POINTS of a string (engine-portable, unlike
    substring's UTF-16-unit count)."""
    return F.array_join(
        F.slice(F.regexp_extract_all(col, F.lit("."), 0), 1, n), ""
    )


def _bpe_word_symbols(documents: DataFrame, max_word_chars: int) -> DataFrame:
    """(word, freq, s): the distinct-word frequency table with each word
    split into single-character symbols + the end-of-word marker.  BPE
    trains over word TYPES weighted by frequency — the corpus explode
    collapses to vocabulary size immediately, which is what makes the
    iterative rounds cheap at any corpus scale."""
    return (
        documents.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        # CODE-POINT truncation and symbol split: regexp '.' iterates
        # code points in BOTH engines (Java regex is surrogate-aware,
        # RE2 is UTF-8-aware), where substring/split count UTF-16 units
        # in Spark and chars in DuckDB — an emoji word diverged under
        # the unit-based form (measured r9)
        .withColumn("word", _cp_truncate(F.col("word"), max_word_chars))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.regexp_extract_all("word", F.lit("."), 0),
                F.array(F.lit(_BPE_EOW)),
            ).alias("s"),
        )
    )


def _accept_merge_batch(cands: list, max_rules: int) -> list:
    """Select the longest prefix of the (count desc, lex asc)-sorted
    pair candidates that sequential Sennrich training would provably
    pick in this order (exact frequency-threshold batching):

    - accepted pairs must be pairwise SYMBOL-DISJOINT (no member shared,
      and no member equal to an earlier accepted pair's concatenation):
      applying a merge only touches pair counts that involve its
      symbols, so disjoint later picks keep their counts;
    - every accepted pair after the first must have count STRICTLY
      greater than the first conflicting candidate's (or the last
      collected candidate's, bounding the uncollected tail): any pair
      a prior merge could have raised is bounded by an old count at or
      below that threshold, so the sequential argmax cannot land on it
      (strictness also kills count-tie lex ambiguity with new pairs).

    One batch therefore replaces up to ``len(accepted)`` sequential
    driver round-trips bit-identically — the oracle stays the plain
    sequential unroll and the driver hash proves the equivalence.
    """
    used: set[str] = set()
    accepted: list = []
    threshold = None
    for row in cands:
        lhs, rhs = row["sym"], row["sym2"]
        if accepted and (
            lhs in used or rhs in used or len(accepted) >= max_rules
        ):
            threshold = int(row["n"])
            break
        accepted.append((lhs, rhs, int(row["n"])))
        used.update((lhs, rhs, lhs + rhs))
    if threshold is None and len(cands) > 0:
        # no conflict inside the collected window: the uncollected tail
        # is bounded by the last collected count
        threshold = int(cands[-1]["n"])
    return [accepted[0]] + [
        r for r in accepted[1:] if r[2] > threshold
    ]


def _bpe_merge_round(syms: DataFrame, max_rules: int = 1, batch: int = 1):
    """One BPE driver round over (word, freq, s): count adjacent symbol
    pairs weighted by word frequency, pick the argmax (count desc, then
    lexicographic — deterministic) plus any further top-``batch``
    candidates that :func:`_accept_merge_batch` proves safe to take in
    the same pass, and rewrite every word's symbol array with the
    pairs' GREEDY left-to-right merge.

    The greedy merge is pure window arithmetic, no sequential fold:
    within a run of CONSECUTIVE match positions, greedy takes the 1st,
    3rd, 5th... (a match consumed by its left neighbor is skipped), so
    ``taken = odd rank within run`` where ``run_id = p - row_number``.
    Accepted pairs are symbol-disjoint, so two matches at adjacent
    positions always belong to the SAME pair (adjacent different-pair
    matches would share the middle symbol) and the single window
    handles the whole batch.  Both engines express this identically —
    the reason the oracle can mirror the whole trainer.

    Returns (merged_syms, rules) — rules is [] when no pair exists
    (training exhausted)."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import Window

    pos = syms.select(
        "word", "freq", F.posexplode("s").alias("p", "sym")
    )
    wn = Window.partitionBy("word").orderBy("p")
    nxt = pos.withColumn("sym2", F.lead("sym").over(wn))
    top = (
        nxt.filter(F.col("sym2").isNotNull())
        .groupBy("sym", "sym2")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "sym", "sym2")
        .limit(max(batch, 1))
        .collect()
    )
    if not top:
        return None, []
    rules = _accept_merge_batch(top, max_rules)

    matches = nxt.filter(
        reduce(
            or_,
            [
                (F.col("sym") == l) & (F.col("sym2") == r)
                for l, r, _ in rules
            ],
        )
    ).select(
        "word",
        "p",
        (F.col("p") - F.row_number().over(wn)).alias("run_id"),
    )
    wr = Window.partitionBy("word", "run_id").orderBy("p")
    taken = (
        matches.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") % 2 == 1)
        .select("word", "p")
    )
    t1 = taken.select(
        F.col("word").alias("t_word"), F.col("p").alias("tp")
    )
    merged = (
        nxt.join(
            t1,
            (nxt.word == t1.t_word) & (nxt.p == t1.tp),
            "left",
        )
        .drop("t_word")
        .withColumn(
            "new_sym",
            F.when(
                F.col("tp").isNotNull(), F.concat("sym", "sym2")
            ).otherwise(F.col("sym")),
        )
        # a position is consumed when p-1 was taken: lag() over the
        # ascending position order looks at the previous row's tp
        .withColumn("consumed", F.lag("tp").over(wn))
    )
    out = (
        merged.filter(F.col("consumed").isNull())
        .groupBy("word")
        .agg(
            F.min("freq").alias("freq"),
            F.array_sort(
                F.collect_list(F.struct("p", "new_sym"))
            ).alias("_ps"),
        )
        .select(
            "word",
            "freq",
            F.transform("_ps", lambda x: x["new_sym"]).alias("s"),
        )
    )
    return out, rules


def bpe_train(
    documents: DataFrame,
    num_merges: int = 6,
    max_word_chars: int = 20,
    merge_batch: int = 16,
    max_vocab_collect: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Learn a BPE merge table from the corpus: ``num_merges`` rounds of
    (count adjacent symbol pairs over the word-frequency table) ->
    (merge the most frequent pair everywhere), exactly the Sennrich
    recipe.  Output: one row per learned rule,
    (merge_rank, lhs, rhs, pair_count), rank-ordered.

    Scale: the corpus collapses to its VOCABULARY in the first
    aggregation (word types x freq; the only corpus-sized scan).  When
    the vocabulary fits the driver cap (``max_vocab_collect``, default
    ``_BPE_MAX_VOCAB_COLLECT``), the merge loop runs locally with
    incrementally-maintained pair counts — wall-clock is then CONSTANT
    in ``num_merges`` (one collect, zero per-merge Spark jobs; measured
    flat 6 -> 256 merges at sf0.1).  Oversized vocabularies use the
    distributed batched round loop (one vocab-sized pair count +
    vocab-keyed window rewrite per round, ``merge_batch`` candidates
    per driver trip).  Both paths are bit-identical (tested).  Words
    cap at ``max_word_chars`` chars (pathological tokens would
    otherwise dominate the position axis); training stops early when
    no adjacent pair remains.
    """
    if max_vocab_collect is None:
        max_vocab_collect = _BPE_MAX_VOCAB_COLLECT
    rules, syms = _bpe_run(
        documents, num_merges, max_word_chars, merge_batch,
        max_vocab_collect=max_vocab_collect, scratch_dir=scratch_dir,
    )
    syms.unpersist()
    return documents.sparkSession.createDataFrame(
        rules, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_train_local(vocab: list, num_merges: int):
    """Exact sequential Sennrich training over a collected
    (word, freq) vocabulary with INCREMENTALLY maintained pair counts —
    the classic fast-BPE control loop (subtract a rewritten word's old
    adjacencies, add its new ones; only words containing the merged
    pair are touched).  Bit-identical to the distributed round loop:
    same per-position frequency-weighted counts, same
    (count desc, lhs asc, rhs asc) argmax, same greedy left-to-right
    application (1st/3rd/5th of a run), same end-of-word marker.

    Returns (rules, final_syms): rules as (rank, lhs, rhs, count),
    final_syms as (word, freq, symbols) for every vocabulary word.
    """
    syms = {w: list(w) + [_BPE_EOW] for w, _ in vocab}
    freq = dict(vocab)
    counts: dict = {}
    where: dict = {}  # pair -> set of words containing it
    for w, f in vocab:
        s = syms[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(w)
    rules = []
    while len(rules) < num_merges and counts:
        (l, r), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((len(rules) + 1, l, r, n))
        merged = l + r
        for w in list(where.get((l, r), ())):
            s = syms[w]
            f = freq[w]
            for i in range(len(s) - 1):  # retract old adjacencies
                p = (s[i], s[i + 1])
                counts[p] -= f
                if counts[p] <= 0:
                    del counts[p]
                    where[p].discard(w)
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(merged)
                    i += 2  # greedy: a match consumed by its left
                else:  # neighbor is skipped
                    out.append(s[i])
                    i += 1
            syms[w] = out
            for i in range(len(out) - 1):  # add new adjacencies
                p = (out[i], out[i + 1])
                counts[p] = counts.get(p, 0) + f
                where.setdefault(p, set()).add(w)
        # a word that no longer contains (l, r) keeps stale `where`
        # membership from the add-back of OTHER pairs only; (l, r)
        # itself was fully retracted above, so its entry is gone
    final = [(w, f, syms[w]) for w, f in vocab]
    return rules, final


# vocabulary sizes at or below this are collected to the driver and
# trained with the incremental loop (one Spark action total); larger
# vocabularies fall back to the distributed batched round loop.  By
# Heaps' law a 100 TB corpus's word-type count sits in the tens of
# millions, so a real run would raise this (driver RAM permitting) or
# pre-floor the vocabulary (min-frequency 2 is the standard cut) —
# the DATA layout is vocab-sized either way; this cap only picks the
# control-loop host, the same bounded-driver contract as the Lloyd
# centroid collect and the MMR depth cap.
_BPE_MAX_VOCAB_COLLECT = 2_000_000


def _bpe_scratch_dir(spark, scratch_dir: str | None) -> str:
    """Resolve the scratch location for the distributed BPE loop's
    per-round materialization barrier.  Resolution order: an explicit
    ``scratch_dir`` argument, then the session's checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` — by convention a
    cluster-visible path), then — ONLY under a local master — a
    driver-local tempdir.  On a multi-node master with neither
    configured we fail fast: a driver-local /tmp path would have each
    executor write its shards to its own disk and the driver-side
    ``read.parquet`` silently consume an incomplete symbol table,
    corrupting training (the failure mode is silent, so refusing is the
    only safe default).  Cleanup: local round tables are best-effort
    deleted by _bpe_run (stale one immediately, live one at exit);
    URI-schemed scratch locations are the caller's to clean."""
    import atexit
    import shutil
    import tempfile

    if scratch_dir:
        return scratch_dir.rstrip("/")
    sc = spark.sparkContext
    ckpt = sc.getCheckpointDir()
    if ckpt:
        return ckpt.rstrip("/") + "/bpe_train"
    if sc.master.startswith("local"):
        tmp = tempfile.mkdtemp(prefix="bpe_train_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        return tmp
    raise ValueError(
        "distributed BPE training needs a cluster-visible scratch dir: "
        "pass scratch_dir=, or call spark.sparkContext.setCheckpointDir "
        "with a shared filesystem path (a driver-local tempdir would "
        f"silently lose executor shards under master={sc.master!r})"
    )


def _bpe_run(
    documents: DataFrame,
    num_merges: int,
    max_word_chars: int,
    merge_batch: int = 16,
    max_vocab_collect: int = _BPE_MAX_VOCAB_COLLECT,
    scratch_dir: str | None = None,
):
    """The training loop: returns (rules, final_syms) with final_syms
    still persisted — the caller owns its unpersist.  final_syms is the
    trained segmentation of every corpus word (BPE trains on the same
    vocabulary it segments), which is what :func:`bpe_segment_stats`
    applies back to the corpus.

    Control plane: the corpus collapses to its VOCABULARY in the first
    aggregation (the only corpus-sized scan).  When the vocabulary fits
    the driver cap, the merge loop runs locally with incremental pair
    counts (VERDICT r9 task 3: O(1) Spark actions total instead of one
    per merge round — a 32k-merge vocab is 32k dict updates, not 32k
    sequential Spark jobs) and the trained segmentation is shipped back
    as a vocab-sized DataFrame.  Oversized vocabularies use the
    distributed batched round loop below, bit-identical by the
    _accept_merge_batch equivalence argument."""
    spark = documents.sparkSession
    # Persist the vocabulary before probing its size: the corpus-sized
    # aggregation runs ONCE, and both the local-path collect and the
    # distributed fallback reuse the cached vocab (the docstring's
    # "one corpus-sized scan" claim, previously off by one).
    base = _bpe_word_symbols(documents, max_word_chars).persist()
    if max_vocab_collect and base.count() <= max_vocab_collect:
        vocab = [
            (r["word"], r["freq"])
            for r in base.select("word", "freq").collect()
        ]
        base.unpersist()
        vocab.sort()  # deterministic iteration order for final_syms
        rules, final = _bpe_train_local(vocab, num_merges)
        syms = spark.createDataFrame(
            final, "word string, freq bigint, s array<string>"
        ).persist()
        return rules, syms
    syms = base
    rules = []
    tmp = None
    rounds = 0
    while len(rules) < num_merges:
        nxt_syms, batch_rules = _bpe_merge_round(
            syms,
            max_rules=num_merges - len(rules),
            batch=max(merge_batch, 1),
        )
        if not batch_rules:
            break
        for lhs, rhs, n in batch_rules:
            rules.append((len(rules) + 1, lhs, rhs, n))
        # materialization barrier: write the round's vocab-sized symbol
        # table to parquet and read it back.  persist alone grows the
        # logical plan by two window ops per round, and BOTH
        # localCheckpoint and reliable checkpoint still go exponential
        # past ~20 rounds (measured: ~2.7x per round even with a
        # truncated LogicalRDD plan and flat RDD lineage — the
        # self-join-per-round shape compounds somewhere below the plan).
        # The parquet round-trip severs everything and stays flat
        # (~0.4 s/round over 30+ rounds); two alternating paths so a
        # write never overwrites the table it is reading from.
        if tmp is None:
            tmp = _bpe_scratch_dir(spark, scratch_dir)
        rounds += 1
        path = f"{tmp}/round_{rounds % 2}"
        nxt_syms.write.mode("overwrite").parquet(path)
        syms.unpersist()
        syms = spark.read.parquet(path)
    if tmp is not None and rounds:
        # scratch hygiene (ADVICE r11): the returned syms still reads
        # round_{rounds%2}, but the OTHER alternating table is dead —
        # reclaim it now, and best-effort-delete the live one at
        # process exit (by then nothing reads it).  Only local paths:
        # a URI-schemed scratch (hdfs://, s3a://) can't be rmtree'd
        # from here, so callers own cleanup of non-local locations.
        import atexit
        import shutil

        if "://" not in tmp:
            shutil.rmtree(
                f"{tmp}/round_{(rounds + 1) % 2}", ignore_errors=True
            )
            atexit.register(
                shutil.rmtree, f"{tmp}/round_{rounds % 2}",
                ignore_errors=True,
            )
    return rules, syms


def bpe_segment_stats(
    documents: DataFrame, num_merges: int = 6, max_word_chars: int = 20
) -> DataFrame:
    """APPLY the trained tokenizer: per source, whitespace-word counts
    vs subword-token counts under the learned merges, with the
    integer-permille fertility — :func:`tokenizer_fertility` upgraded
    from the regex proxy to the REAL trained segmentation.

    The final training round's symbol table already segments every
    vocabulary word, so application is one (source, word)-count
    aggregation joined to the vocab-sized segmentation — no per-token
    merge replay over the corpus.  A standalone trailing ``</w>``
    marker is not a real token; a marker fused into the last subword
    (e.g. ``low</w>``) is that token.
    """
    from pithos_spark.plans.helpers import bounded_persist

    rules, syms = _bpe_run(documents, num_merges, max_word_chars)
    # hand the persisted handle to the bounded slot: the caller's action
    # uses the cache, the NEXT bpe_segment_stats call frees it (the
    # lazy-caller lifecycle a try/finally-unpersist here would break)
    syms.unpersist()
    syms = bounded_persist(syms, "bpe_segment_stats.syms")
    words = (
        documents.select(
            "source", F.explode(_tokens(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .withColumn("word", _cp_truncate(F.col("word"), max_word_chars))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n_words"))
    )
    per_word = syms.select(
        "word",
        (
            F.size("s")
            - F.when(
                F.element_at("s", -1) == _BPE_EOW, F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long").alias("n_sub"),
    )
    return (
        words.join(per_word, "word")
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("word_tokens"),
            F.sum(F.col("n_words") * F.col("n_sub")).alias("bpe_tokens"),
        )
        .select(
            "source",
            "word_tokens",
            "bpe_tokens",
            F.expr("(1000 * bpe_tokens) div word_tokens").alias(
                "fertility_permille"
            ),
        )
        .orderBy("source")
    )


def _bpe_apply_local(words: list, rules: list) -> dict:
    """Apply a TRAINED merge-rule sequence to arbitrary words (the
    frozen-tokenizer serve path): per word, chars + end-of-word marker,
    then each rule in rank order merges its pair greedily left-to-right
    — exactly the segmentation sequential training would produce, so
    for any word in the training vocabulary this equals the trained
    symbol table (tested).  Unseen words degrade gracefully: pairs the
    LM never learned simply never merge."""
    out: dict = {}
    for w in words:
        s = list(w) + [_BPE_EOW]
        for _, lhs, rhs, _ in rules:
            res: list = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    res.append(lhs + rhs)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            s = res
        out[w] = s
    return out


def bpe_heldout_fertility(
    documents: DataFrame,
    lm_documents: DataFrame,
    num_merges: int = 6,
    max_word_chars: int = 20,
    max_vocab_collect: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Tokenize ``documents`` with a BPE tokenizer TRAINED on a
    DISJOINT ``lm_documents`` slice — the frozen-tokenizer production
    shape (train once on a held-out sample, tokenize the 100 TB corpus
    with the fixed merge table; ``bpe_segment_stats`` is the
    self-applied twin).  Unseen words segment by replaying the trained
    rules over their characters; words sharing no learned pair stay
    character-split.

    Scale: training collapses the LM slice to its vocabulary
    (:func:`_bpe_run`'s contract, including the driver cap and the
    distributed fallback's scratch-dir resolution); application
    collapses the APPLY corpus to ITS vocabulary (word types x rule
    replay — vocab x num_merges dict work, zero per-token corpus
    passes) under the same ``max_vocab_collect`` driver-cap contract.
    Output: per-source (word_tokens, bpe_tokens, fertility_permille),
    the :func:`bpe_segment_stats` schema.
    """
    if max_vocab_collect is None:
        max_vocab_collect = _BPE_MAX_VOCAB_COLLECT
    spark = documents.sparkSession
    rules, syms = _bpe_run(
        lm_documents, num_merges, max_word_chars,
        max_vocab_collect=max_vocab_collect, scratch_dir=scratch_dir,
    )
    syms.unpersist()
    words = (
        documents.select(
            "source", F.explode(_tokens(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .withColumn("word", _cp_truncate(F.col("word"), max_word_chars))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n_words"))
    )
    from pithos_spark.plans.helpers import bounded_persist

    words = bounded_persist(words, "bpe_heldout_fertility.words")
    # probe the vocabulary size BEFORE collecting (ADVICE r11): the cap
    # exists to protect driver memory, so the count() must run first —
    # raising after an oversized collect would be too late.  Mirrors
    # the trainer's base.count() probe in _bpe_run.
    n_vocab = words.select("word").distinct().count()
    if n_vocab > max_vocab_collect:
        raise ValueError(
            f"apply-corpus vocabulary ({n_vocab} types) exceeds "
            f"max_vocab_collect={max_vocab_collect}; raise the cap (the "
            "rule table is tiny — driver memory holds the vocab, the "
            "same bounded-driver contract as training)"
        )
    vocab = [
        r["word"] for r in words.select("word").distinct().collect()
    ]
    seg = _bpe_apply_local(vocab, rules)
    per_word = spark.createDataFrame(
        [
            (w, len(s) - (1 if s and s[-1] == _BPE_EOW else 0))
            for w, s in seg.items()
        ],
        "word string, n_sub long",
    )
    return (
        words.join(per_word, "word")
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("word_tokens"),
            F.sum(F.col("n_words") * F.col("n_sub")).alias("bpe_tokens"),
        )
        .select(
            "source",
            "word_tokens",
            "bpe_tokens",
            F.expr("(1000 * bpe_tokens) div word_tokens").alias(
                "fertility_permille"
            ),
        )
        .orderBy("source")
    )


def _bpe_cte_prefix(
    num_merges: int, max_word_chars: int, pred: str = "TRUE"
) -> str:
    """Shared unrolled CTE prefix: one block per merge round (the
    Lloyd-unroll pattern), ending at syms_{num_merges}.  Every
    multiply-referenced CTE is MATERIALIZED: DuckDB inlines plain CTEs
    at each reference, and with nxt_r referenced three times per round
    the inlined plan re-evaluates the whole prefix 3^rounds times —
    materialization makes the oracle linear in rounds, exactly like the
    Spark side's per-round persist.  top_r attaches via LEFT JOIN ON
    TRUE so an exhausted round (no pairs left) passes symbols through
    unchanged instead of emptying the table.  ``pred`` restricts the
    TRAINING corpus (the held-out gate trains on a slice)."""
    max_pos = max_word_chars + 2
    blocks = [
        f"""\
WITH words AS (
    SELECT array_to_string(regexp_extract_all(w, '.')[1:{max_word_chars}],
                           '') AS word,
           count(*) AS freq
    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE ({pred}))
    WHERE w <> ''
    GROUP BY 1
), syms_0 AS (
    SELECT word, freq,
           regexp_extract_all(word, '.') || ['{_BPE_EOW}'] AS s
    FROM words
)"""
    ]
    for r in range(1, num_merges + 1):
        prev = f"syms_{r - 1}"
        blocks.append(
            f""", nxt_{r} AS MATERIALIZED (
    SELECT word, freq, p, s[p] AS sym,
           lead(s[p]) OVER (PARTITION BY word ORDER BY p) AS sym2
    FROM {prev}, (SELECT unnest(range(1, {max_pos} + 1)) AS p) ps_{r}
    WHERE p <= len(s)
), top_{r} AS MATERIALIZED (
    SELECT sym AS l, sym2 AS r, CAST(sum(freq) AS BIGINT) AS n
    FROM nxt_{r} WHERE sym2 IS NOT NULL
    GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1
), taken_{r} AS MATERIALIZED (
    SELECT word, p FROM (
        SELECT word, p,
               row_number() OVER (PARTITION BY word, run_id ORDER BY p) AS rk
        FROM (
            SELECT n.word, n.p,
                   n.p - row_number() OVER (PARTITION BY n.word ORDER BY n.p)
                       AS run_id
            FROM nxt_{r} n, top_{r} t
            WHERE n.sym = t.l AND n.sym2 = t.r
        )
    ) WHERE rk % 2 = 1
), syms_{r} AS MATERIALIZED (
    SELECT n.word, any_value(n.freq) AS freq,
           list(CASE WHEN t.p IS NOT NULL THEN tr.l || tr.r ELSE n.sym END
                ORDER BY n.p) AS s
    FROM nxt_{r} n
    LEFT JOIN top_{r} tr ON TRUE
    LEFT JOIN taken_{r} t ON t.word = n.word AND t.p = n.p
    LEFT JOIN taken_{r} tc ON tc.word = n.word AND tc.p = n.p - 1
    WHERE tc.p IS NULL
    GROUP BY n.word
)"""
        )
    return "".join(blocks)


def bpe_train_oracle(num_merges: int = 6, max_word_chars: int = 20) -> str:
    """SQL twin of :func:`bpe_train`: the shared round prefix plus the
    rank-ordered UNION of each round's argmax row (an exhausted round's
    empty top contributes nothing — matching the Spark early break)."""
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, l AS lhs, r AS rhs, n AS pair_count"
        f" FROM top_{r}"
        for r in range(1, num_merges + 1)
    )
    return (
        _bpe_cte_prefix(num_merges, max_word_chars)
        + f"\n{union}\nORDER BY merge_rank"
    )


def bpe_segment_stats_oracle(
    num_merges: int = 6, max_word_chars: int = 20
) -> str:
    """SQL twin of :func:`bpe_segment_stats`: the trained segmentation
    (syms_N) applied back to per-source word counts."""
    return (
        _bpe_cte_prefix(num_merges, max_word_chars)
        + f""", corpus_words AS (
    SELECT source,
           array_to_string(regexp_extract_all(w, '.')[1:{max_word_chars}],
                           '') AS word,
           count(*) AS n_words
    FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY 1, 2
), per_word AS (
    SELECT word,
           CAST(len(s) - CASE WHEN s[len(s)] = '{_BPE_EOW}' THEN 1 ELSE 0 END
                AS BIGINT) AS n_sub
    FROM syms_{num_merges}
), agg AS (
    SELECT source,
           CAST(sum(n_words) AS BIGINT) AS word_tokens,
           CAST(sum(n_words * n_sub) AS BIGINT) AS bpe_tokens
    FROM corpus_words JOIN per_word USING (word)
    GROUP BY 1
)
SELECT source, word_tokens, bpe_tokens,
       (1000 * bpe_tokens) // word_tokens AS fertility_permille
FROM agg
ORDER BY source"""
    )


def bpe_heldout_fertility_oracle(
    score_pred: str,
    lm_pred: str,
    num_merges: int = 6,
    max_word_chars: int = 20,
) -> str:
    """SQL twin of :func:`bpe_heldout_fertility`: the training unroll
    over the ``lm_pred`` slice (shared :func:`_bpe_cte_prefix`, whose
    per-round top_r IS the trained rule table), then one APPLY block
    per round replaying top_r over the ``score_pred`` corpus's own
    vocabulary — the same run-id/odd-rank greedy-merge arithmetic the
    trainer uses, with the pair GIVEN instead of selected."""
    max_pos = max_word_chars + 2
    blocks = [
        _bpe_cte_prefix(num_merges, max_word_chars, pred=lm_pred),
        f""", apply_words AS (
    SELECT source,
           array_to_string(regexp_extract_all(w, '.')[1:{max_word_chars}],
                           '') AS word,
           count(*) AS n_words
    FROM (SELECT source,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE ({score_pred}))
    WHERE w <> ''
    GROUP BY 1, 2
), asyms_0 AS (
    SELECT word, regexp_extract_all(word, '.') || ['{_BPE_EOW}'] AS s
    FROM (SELECT DISTINCT word FROM apply_words)
)""",
    ]
    for r in range(1, num_merges + 1):
        blocks.append(
            f""", anxt_{r} AS MATERIALIZED (
    SELECT word, p, s[p] AS sym,
           lead(s[p]) OVER (PARTITION BY word ORDER BY p) AS sym2
    FROM asyms_{r - 1}, (SELECT unnest(range(1, {max_pos} + 1)) AS p)
         aps_{r}
    WHERE p <= len(s)
), ataken_{r} AS MATERIALIZED (
    SELECT word, p FROM (
        SELECT word, p,
               row_number() OVER (PARTITION BY word, run_id ORDER BY p) AS rk
        FROM (
            SELECT n.word, n.p,
                   n.p - row_number() OVER (PARTITION BY n.word ORDER BY n.p)
                       AS run_id
            FROM anxt_{r} n, top_{r} t
            WHERE n.sym = t.l AND n.sym2 = t.r
        )
    ) WHERE rk % 2 = 1
), asyms_{r} AS MATERIALIZED (
    SELECT n.word,
           list(CASE WHEN t.p IS NOT NULL THEN tr.l || tr.r ELSE n.sym END
                ORDER BY n.p) AS s
    FROM anxt_{r} n
    LEFT JOIN top_{r} tr ON TRUE
    LEFT JOIN ataken_{r} t ON t.word = n.word AND t.p = n.p
    LEFT JOIN ataken_{r} tc ON tc.word = n.word AND tc.p = n.p - 1
    WHERE tc.p IS NULL
    GROUP BY n.word
)"""
        )
    blocks.append(
        f""", aper_word AS (
    SELECT word,
           CAST(len(s) - CASE WHEN s[len(s)] = '{_BPE_EOW}' THEN 1 ELSE 0 END
                AS BIGINT) AS n_sub
    FROM asyms_{num_merges}
), aagg AS (
    SELECT source,
           CAST(sum(n_words) AS BIGINT) AS word_tokens,
           CAST(sum(n_words * n_sub) AS BIGINT) AS bpe_tokens
    FROM apply_words JOIN aper_word USING (word)
    GROUP BY 1
)
SELECT source, word_tokens, bpe_tokens,
       (1000 * bpe_tokens) // word_tokens AS fertility_permille
FROM aagg
ORDER BY source"""
    )
    return "".join(blocks)


def classifier_weights(
    spark, n_features: int = 4096, seed_mult: int = 2654435761
) -> DataFrame:
    """Deterministic stand-in for an EXPORTED linear quality
    classifier's weight vector: (feature_id, weight_milli) with
    weight_milli in [-1000, 1000], derived by Knuth multiplicative
    hashing from the feature id — the same portable-fake pattern as
    the cross-encoder rerank stub (a real fastText/logistic export
    would replace this one table and nothing else).  n_features rows,
    always broadcastable."""
    return spark.range(n_features).select(
        F.col("id").alias("feature_id"),
        ((F.col("id") * seed_mult) % 2001 - 1000).alias("weight_milli"),
    )


def _feature_hash(col, n_features: int):
    """The portable hashed-feature id both the trainer and the scorer
    use: md5-prefix of the token, mod ``n_features`` — integer-exact in
    both engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast(
        "long"
    ) % n_features


def train_classifier_weights(
    labeled_documents: DataFrame,
    n_features: int = 4096,
    smoothing: int = 1,
) -> DataFrame:
    """TRAIN the linear quality gate's weight export from labeled text
    (VERDICT r10 task 6): per hashed token feature, an integer contrast
    weight

        weight_milli = (1000*(g+s)) div (b+s) - (1000*(b+s)) div (g+s)

    where g/b are the feature's token occurrences in label=1 / label=0
    documents and ``s`` the add-one smoothing — the Naive-Bayes-style
    log-odds surrogate kept in integer permille so training is
    engine-exact end to end (no float log; the contrast is monotone in
    the odds ratio and symmetric around 0).  A feature never seen in
    training has no row — scoring's inner weight join drops it, the
    standard hashed-vocabulary contract.

    Input: (doc_id, text, label) with label in {0, 1} (weak labels —
    a heuristic, a reference-corpus membership bit, or human marks).
    Scale: one corpus-linear token explode + one feature-keyed
    map-side-combinable agg; output <= ``n_features`` rows, always
    broadcastable — training a 100 TB corpus's gate is ONE pass."""
    toks = labeled_documents.select(
        "label", F.explode(_tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    per = (
        toks.select(
            "label", _feature_hash(F.col("token"), n_features).alias("feature_id")
        )
        .groupBy("feature_id")
        .agg(
            F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).alias("g"),
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).alias("b"),
        )
    )
    s = int(smoothing)
    return per.select(
        "feature_id",
        (
            F.expr(f"(1000 * (g + {s})) div (b + {s})")
            - F.expr(f"(1000 * (b + {s})) div (g + {s})")
        ).alias("weight_milli"),
    )


def write_classifier_weights_layout(
    labeled_documents: DataFrame, path: str, n_features: int = 4096,
    smoothing: int = 1,
) -> None:
    """Materialize the trained quality gate's weight export (r12): the
    <= n_features (feature_id, weight_milli) rows written once at
    training time — the weights analog of write_trigram_lm_layout.
    Training scans the labeled corpus ONCE; every scoring run
    thereafter reads the tiny stored table and broadcasts it, instead
    of re-running the corpus-sized training explode in-query."""
    from pithos_spark.functions.layoutcommit import write_tiny_table

    write_tiny_table(
        train_classifier_weights(labeled_documents, n_features, smoothing),
        f"{path}/weights",
    )


def quality_classifier_from_layout(
    documents: DataFrame, path: str, **score_kwargs
) -> DataFrame:
    """Score against the persisted weight export — bit-identical to
    scoring with freshly-trained weights on the same labeled slice
    (the stored table IS train_classifier_weights' output)."""
    weights = documents.sparkSession.read.parquet(f"{path}/weights")
    return quality_classifier_score(documents, weights=weights, **score_kwargs)


def quality_classifier_score(
    documents: DataFrame,
    weights: DataFrame | None = None,
    n_features: int = 4096,
    threshold_milli: int = 0,
) -> DataFrame:
    """Linear quality-classifier scoring, the fastText-style trained
    filter every production curation stack runs after the heuristic
    gates (GPT-3/LLaMA-style "looks like reference text" filters):
    hashed bag-of-tokens features, a broadcast weight-table join, and
    an integer token-averaged logit.

    logit_milli = floor(sum(count(tok) * w[h(tok)]) / n_tokens) where
    h is the portable md5-prefix hash mod ``n_features`` — all-integer,
    so both engines hash-match exactly (no sigmoid: monotone in it, a
    threshold on the logit IS the classifier decision).

    Scale shape: token explode (corpus-linear) -> per-(doc, feature)
    count (map-side combinable) -> broadcast join against the
    n_features-row weight table (a few MB for any real linear model —
    never a shuffle) -> doc-keyed agg.  Output: (doc_id, n_tokens,
    logit_milli, keep).
    """
    spark = documents.sparkSession
    if weights is None:
        weights = classifier_weights(spark, n_features)
    feat = _feature_hash(F.col("token"), n_features)
    per_feat = (
        documents.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", feat.alias("feature_id"))
        .groupBy("doc_id", "feature_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_feat.join(F.broadcast(weights), "feature_id")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("weight_milli")).alias("_wsum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("_wsum") / F.col("n_tokens"))
            .cast("long")
            .alias("logit_milli"),
        )
        .withColumn("keep", F.col("logit_milli") >= threshold_milli)
        .orderBy("doc_id")
    )


def quality_classifier_score_oracle(
    n_features: int = 4096,
    threshold_milli: int = 0,
    seed_mult: int = 2654435761,
) -> str:
    """DuckDB twin of :func:`quality_classifier_score` with the
    deterministic stand-in weights — same md5-prefix feature hash,
    Knuth-multiplicative weight table, integer floor logit."""
    return f"""\
WITH weights AS (
    SELECT f AS feature_id, (f * {seed_mult}) % 2001 - 1000 AS weight_milli
    FROM (SELECT unnest(range(0, {n_features})) AS f)
), toks AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_features}
               AS feature_id
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents)
    WHERE tok <> ''
), per_feat AS (
    SELECT doc_id, feature_id, count(*) AS cnt
    FROM toks GROUP BY 1, 2
)
SELECT p.doc_id,
       CAST(sum(p.cnt) AS BIGINT) AS n_tokens,
       CAST(floor(sum(p.cnt * w.weight_milli) / sum(p.cnt)) AS BIGINT)
           AS logit_milli,
       floor(sum(p.cnt * w.weight_milli) / sum(p.cnt))
           >= {threshold_milli} AS keep
FROM per_feat p JOIN weights w USING (feature_id)
GROUP BY p.doc_id
ORDER BY p.doc_id"""


def quality_classifier_trained_oracle(
    score_pred: str,
    train_pred: str,
    label_expr: str,
    n_features: int = 4096,
    threshold_milli: int = 0,
    smoothing: int = 1,
) -> str:
    """DuckDB twin of train-then-score: weights from
    :func:`train_classifier_weights` over the ``train_pred`` slice
    (labels from ``label_expr``), scoring over the ``score_pred``
    slice — the whole weak-supervision pipeline in one query."""
    s = int(smoothing)
    return f"""\
WITH train_toks AS (
    SELECT CAST({label_expr} AS INT) AS label,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_features}
               AS feature_id
    FROM (SELECT n_chars, doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents WHERE {train_pred})
    WHERE tok <> ''
), weights AS MATERIALIZED (
    SELECT feature_id,
           (1000 * (sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + {s}))
               // (sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + {s})
           - (1000 * (sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + {s}))
               // (sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + {s})
               AS weight_milli
    FROM train_toks GROUP BY feature_id
), toks AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_features}
               AS feature_id
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents WHERE {score_pred})
    WHERE tok <> ''
), per_feat AS (
    SELECT doc_id, feature_id, count(*) AS cnt
    FROM toks GROUP BY 1, 2
)
SELECT p.doc_id,
       CAST(sum(p.cnt) AS BIGINT) AS n_tokens,
       CAST(floor(sum(p.cnt * w.weight_milli) / sum(p.cnt)) AS BIGINT)
           AS logit_milli,
       floor(sum(p.cnt * w.weight_milli) / sum(p.cnt))
           >= {threshold_milli} AS keep
FROM per_feat p JOIN weights w USING (feature_id)
GROUP BY p.doc_id
ORDER BY p.doc_id"""


def trigram_interp_score(
    documents: DataFrame,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> DataFrame:
    """Jelinek-Mercer interpolated trigram scoring — the standard
    backoff LM family behind CCNet-style perplexity gates, upgraded
    from the bigram proxy: each document's trigrams are scored
    lambda3*P(w3|w1w2) + lambda2*P(w3|w2) + lambda1*P(w3), with all
    three conditionals as integer permille and integer lambdas
    (l3+l2+l1 = 1000), so the whole gate is engine-exact.

    Self-scored here (the LM is the corpus's own counts, so the
    trigram term always has c >= 1); a production pipeline scores a
    held-out reference LM through the SAME plan — the left joins +
    zero-coalesces below are exactly the unseen-gram path that needs.

    Scale: one trigram explode (corpus-linear); the three LM joins are
    keyed by the gram strings (vocabulary-bounded — at 100 TB
    pre-build the LM once and bucket both sides by gram, the
    perplexity_filter note); one doc-keyed final agg.  Docs with fewer
    than 3 tokens have no trigram and are excluded (they are the
    length gate's job, not the LM's).

    Output: (doc_id, n_trigrams, mean_interp_permille, verdict) with
    verdict 'high_ppl' below ``low``, 'low_ppl' above ``high``, else
    'ok'.
    """
    from pithos_spark.plans.helpers import bounded_persist

    tri_doc = bounded_persist(
        _trigram_windows(documents), "trigram_interp.tri_doc"
    )
    return _trigram_interp(
        tri_doc, tri_doc, tri_doc.count(), l3, l2, l1, low, high
    )


def _trigram_windows(documents: DataFrame) -> DataFrame:
    """Per-document trigram windows with every backoff key the
    Jelinek-Mercer score needs: (doc_id, tri, ctx2, bi, ctx1, w3).

    fan_out (r18, guide §2.5/§2.6): the tokenize + window expression is
    the heldout/LM paths' heaviest per-row stage, and single-row-group
    corpora plan it onto 1-2 input splits; no-op on real layouts."""
    from pithos_spark.plans.helpers import fan_out

    toks = fan_out(documents.select("doc_id", "text")).select(
        "doc_id", _tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= 3)
    t = F.col("_toks")
    idx = F.sequence(F.lit(1), F.size(t) - 2)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, 3)))
    return (
        toks.select("doc_id", F.explode(grams).alias("tri"))
        .withColumn("_w", F.split(F.col("tri"), " "))
        .select(
            "doc_id",
            "tri",
            F.concat_ws(" ", F.col("_w")[0], F.col("_w")[1]).alias("ctx2"),
            F.concat_ws(" ", F.col("_w")[1], F.col("_w")[2]).alias("bi"),
            F.col("_w")[1].alias("ctx1"),
            F.col("_w")[2].alias("w3"),
        )
    )


def _trigram_interp(
    tri_score: DataFrame,
    tri_lm: DataFrame,
    n_total: int,
    l3: int,
    l2: int,
    l1: int,
    low: int,
    high: int,
) -> DataFrame:
    """Score ``tri_score``'s trigram windows under LM counts estimated
    from ``tri_lm``'s — the two coincide for the self-scored gate and
    differ for the held-out gate, where grams absent from the LM take
    the left-join/zero-coalesce backoff path."""
    return _trigram_score(
        tri_score, _trigram_counts(tri_lm), n_total, l3, l2, l1, low, high
    )


# the five gram-keyed LM count tables: (key column, count column)
_TRIGRAM_COUNT_TABLES = [
    ("tri", "c3"),
    ("ctx2", "cctx2"),
    ("bi", "cbi"),
    ("ctx1", "cctx1"),
    ("w3", "cw3"),
]


def _trigram_counts(tri_lm: DataFrame) -> dict[str, DataFrame]:
    """Collapse LM trigram windows to the five gram-keyed count tables.
    Bigram/unigram counts come from the SAME trigram windows (w2, w3 of
    each window), keeping every denominator consistent with its
    numerator."""
    return {
        cnt: tri_lm.groupBy(key).agg(F.count(F.lit(1)).alias(cnt))
        for key, cnt in _TRIGRAM_COUNT_TABLES
    }


def _trigram_score(
    tri_score: DataFrame,
    counts: dict[str, DataFrame],
    n_total: int,
    l3: int,
    l2: int,
    l1: int,
    low: int,
    high: int,
) -> DataFrame:
    """The scoring join shape over PREBUILT count tables — shared by
    the derive-on-read forms and :func:`trigram_heldout_from_layout`
    (which reads the counts from the materialized gram layout), so the
    two are bit-identical by construction.

    Shape note (r17, measured): a vocab-split rewrite — score each
    DISTINCT trigram once, then one (doc_id, tri) join — was tried and
    REJECTED: at bench scale the count tables broadcast, so this
    five-join chain never exchanges the window rows at all, while the
    split's two extra aggregations cost +44% (A/B med 1.01 s vs
    1.45 s at sf0.1).  At vocabularies too big to broadcast the joins
    degrade to SMJs; the production answer there is the BUCKETED
    layout (write_trigram_lm_layout) whose count-side partitioning the
    scoring join reuses, not a different derive-on-read shape."""
    assert l3 + l2 + l1 == 1000, "interpolation weights must sum to 1000"
    scored = (
        tri_score.join(counts["c3"], "tri", "left")
        .join(counts["cctx2"], "ctx2", "left")
        .join(counts["cbi"], "bi", "left")
        .join(counts["cctx1"], "ctx1", "left")
        .join(counts["cw3"], "w3", "left")
        .select(
            "doc_id",
            (
                F.lit(l3)
                * F.expr("(1000 * coalesce(c3, 0)) div greatest(coalesce(cctx2, 0), 1)")
                + F.lit(l2)
                * F.expr("(1000 * coalesce(cbi, 0)) div greatest(coalesce(cctx1, 0), 1)")
                + F.lit(l1)
                * F.expr(f"(1000 * coalesce(cw3, 0)) div {n_total}")
            ).alias("_interp_x1000"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.expr("sum(_interp_x1000 div 1000) div count(1)").alias(
                "mean_interp_permille"
            ),
        )
        .withColumn(
            "verdict",
            F.when(F.col("mean_interp_permille") < low, F.lit("high_ppl"))
            .when(F.col("mean_interp_permille") > high, F.lit("low_ppl"))
            .otherwise(F.lit("ok")),
        )
        .orderBy("doc_id")
    )


def trigram_interp_score_oracle(
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> str:
    """DuckDB twin of :func:`trigram_interp_score`."""
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
), toks3 AS (
    SELECT doc_id, t FROM toks WHERE len(t) >= 3
), tri_doc AS (
    SELECT doc_id,
           array_to_string(t[i:i+2], ' ') AS tri,
           array_to_string(t[i:i+1], ' ') AS ctx2,
           array_to_string(t[i+1:i+2], ' ') AS bi,
           t[i+1] AS ctx1,
           t[i+2] AS w3
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks3)
), c3 AS (SELECT tri, count(*) AS c3 FROM tri_doc GROUP BY tri),
cctx2 AS (SELECT ctx2, count(*) AS cctx2 FROM tri_doc GROUP BY ctx2),
cbi AS (SELECT bi, count(*) AS cbi FROM tri_doc GROUP BY bi),
cctx1 AS (SELECT ctx1, count(*) AS cctx1 FROM tri_doc GROUP BY ctx1),
cw3 AS (SELECT w3, count(*) AS cw3 FROM tri_doc GROUP BY w3),
n AS (SELECT count(*) AS n_total FROM tri_doc),
scored AS (
    SELECT d.doc_id,
           ({l3} * ((1000 * coalesce(c3.c3, 0)) // greatest(coalesce(cctx2.cctx2, 0), 1))
            + {l2} * ((1000 * coalesce(cbi.cbi, 0)) // greatest(coalesce(cctx1.cctx1, 0), 1))
            + {l1} * ((1000 * coalesce(cw3.cw3, 0)) // n.n_total)
           ) AS interp_x1000
    FROM tri_doc d
    LEFT JOIN c3 USING (tri)
    LEFT JOIN cctx2 USING (ctx2)
    LEFT JOIN cbi USING (bi)
    LEFT JOIN cctx1 USING (ctx1)
    LEFT JOIN cw3 USING (w3)
    CROSS JOIN n
)
SELECT doc_id,
       count(*) AS n_trigrams,
       CAST(sum(interp_x1000 // 1000) // count(*) AS BIGINT)
           AS mean_interp_permille,
       CASE WHEN sum(interp_x1000 // 1000) // count(*) < {low}
                THEN 'high_ppl'
            WHEN sum(interp_x1000 // 1000) // count(*) > {high}
                THEN 'low_ppl'
            ELSE 'ok' END AS verdict
FROM scored
GROUP BY doc_id
ORDER BY doc_id"""


def trigram_heldout_score(
    documents: DataFrame,
    lm_documents: DataFrame,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> DataFrame:
    """The held-out form of :func:`trigram_interp_score` (VERDICT r10
    task 5): score ``documents`` under a Jelinek-Mercer trigram LM
    estimated from a DISJOINT ``lm_documents`` slice — the CCNet-style
    production shape, where the reference LM is trained on held-out
    text and the corpus being curated never contributes to its own
    counts.  Trigrams/bigrams/unigrams absent from the LM take the
    left-join/zero-coalesce backoff path with REAL zeros (a document
    sharing no vocabulary with the LM scores 0 exactly).

    Scale: identical to the self-scored plan — the LM collapses to
    vocabulary-bounded count tables; at 100 TB build them once, bucket
    both sides by gram, and every scoring pass is a bucketed join.
    Output schema matches :func:`trigram_interp_score`."""
    from pithos_spark.plans.helpers import bounded_persist

    tri_score = bounded_persist(
        _trigram_windows(documents), "trigram_heldout.tri_score"
    )
    tri_lm = bounded_persist(
        _trigram_windows(lm_documents), "trigram_heldout.tri_lm"
    )
    # an empty LM slice scores everything 0 rather than dividing by it
    n_total = max(tri_lm.count(), 1)
    return _trigram_interp(tri_score, tri_lm, n_total, l3, l2, l1, low, high)


def trigram_heldout_score_oracle(
    score_pred: str,
    lm_pred: str,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> str:
    """DuckDB twin of :func:`trigram_heldout_score` with the score/LM
    corpus split expressed as SQL predicates over ``documents``.
    The multiply-referenced LM CTE is AS MATERIALIZED (DuckDB inlines
    plain CTEs at every reference)."""
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents WHERE {score_pred}
), toks3 AS (
    SELECT doc_id, t FROM toks WHERE len(t) >= 3
), tri_doc AS MATERIALIZED (
    SELECT doc_id,
           array_to_string(t[i:i+2], ' ') AS tri,
           array_to_string(t[i:i+1], ' ') AS ctx2,
           array_to_string(t[i+1:i+2], ' ') AS bi,
           t[i+1] AS ctx1,
           t[i+2] AS w3
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks3)
), lm_toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents WHERE {lm_pred}
), lm_toks3 AS (
    SELECT doc_id, t FROM lm_toks WHERE len(t) >= 3
), tri_lm AS MATERIALIZED (
    SELECT doc_id,
           array_to_string(t[i:i+2], ' ') AS tri,
           array_to_string(t[i:i+1], ' ') AS ctx2,
           array_to_string(t[i+1:i+2], ' ') AS bi,
           t[i+1] AS ctx1,
           t[i+2] AS w3
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
          FROM lm_toks3)
), c3 AS (SELECT tri, count(*) AS c3 FROM tri_lm GROUP BY tri),
cctx2 AS (SELECT ctx2, count(*) AS cctx2 FROM tri_lm GROUP BY ctx2),
cbi AS (SELECT bi, count(*) AS cbi FROM tri_lm GROUP BY bi),
cctx1 AS (SELECT ctx1, count(*) AS cctx1 FROM tri_lm GROUP BY ctx1),
cw3 AS (SELECT w3, count(*) AS cw3 FROM tri_lm GROUP BY w3),
n AS (SELECT greatest(count(*), 1) AS n_total FROM tri_lm),
scored AS (
    SELECT d.doc_id,
           ({l3} * ((1000 * coalesce(c3.c3, 0)) // greatest(coalesce(cctx2.cctx2, 0), 1))
            + {l2} * ((1000 * coalesce(cbi.cbi, 0)) // greatest(coalesce(cctx1.cctx1, 0), 1))
            + {l1} * ((1000 * coalesce(cw3.cw3, 0)) // n.n_total)
           ) AS interp_x1000
    FROM tri_doc d
    LEFT JOIN c3 USING (tri)
    LEFT JOIN cctx2 USING (ctx2)
    LEFT JOIN cbi USING (bi)
    LEFT JOIN cctx1 USING (ctx1)
    LEFT JOIN cw3 USING (w3)
    CROSS JOIN n
)
SELECT doc_id,
       count(*) AS n_trigrams,
       CAST(sum(interp_x1000 // 1000) // count(*) AS BIGINT)
           AS mean_interp_permille,
       CASE WHEN sum(interp_x1000 // 1000) // count(*) < {low}
                THEN 'high_ppl'
            WHEN sum(interp_x1000 // 1000) // count(*) > {high}
                THEN 'low_ppl'
            ELSE 'ok' END AS verdict
FROM scored
GROUP BY doc_id
ORDER BY doc_id"""


def write_gram_tables(src, n_buckets: int, path: str) -> None:
    """The gram layout's physical format, declared once — build, staged
    segment (stream or batch append) and fold all write through here:
    each of the five count tables PARTITIONED BY its murmur3 gram bucket
    ``b = pmod(hash(key), n_buckets)`` and sorted by key within files.
    ``src`` is either trigram windows (counted per gram) or, for a
    fold, a dict of per-table partial count rows (summed per gram).

    ONE exchange per table: hash-repartitioning on the gram key into
    n_buckets partitions IS the bucket function — Spark's partition id
    is pmod(murmur3(key), n), the same expression as column b — so the
    aggregation reuses the exchange (clustered on key) AND every task
    holds exactly its own b directory.  The former shape paid a second
    keyless repartition("b") exchange per table whose few distinct
    values spread over 200 partitions (guide §2.4/§2.5).  The five
    writes are independent jobs — overlapped (guide §2.6); callers
    commit (install or pointer swap) only after all settle."""
    from pithos_spark.plans.helpers import overlap_jobs

    def _write_one(key, cnt):
        if isinstance(src, dict):
            rows, agg = src[cnt], F.sum(cnt).cast("long")
        else:
            rows, agg = src, F.count(F.lit(1))
        (
            rows.repartition(n_buckets, F.col(key))
            .groupBy(key)
            .agg(agg.alias(cnt))
            .withColumn("b", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(f"{path}/{cnt}")
        )

    overlap_jobs(
        *[
            (lambda key=key, cnt=cnt: _write_one(key, cnt))
            for key, cnt in _TRIGRAM_COUNT_TABLES
        ]
    )


def write_gram_stats(
    spark, path: str, n_total: int, n_buckets: int, n_segments: int
) -> None:
    """The gram layout's 1-row totals table.  ``n_segments`` is the
    partial rows per gram (1 = merged, readers skip the LSM merge;
    0 = unknown, always merge)."""
    from pithos_spark.functions.layoutcommit import write_tiny_table

    write_tiny_table(
        spark.createDataFrame(
            [(int(n_total), int(n_buckets), int(n_segments))],
            "n_total long, n_buckets int, n_segments int",
        ),
        path,
    )


def write_trigram_lm_layout(
    lm_documents: DataFrame, path: str, n_buckets: int | None = None
) -> None:
    """Materialize the trigram-LM gram layout (VERDICT r11 task 4 /
    SCALE_r11 prescription): the five gram-keyed count tables collapsed
    from the LM slice, each written PARTITIONED BY a murmur3 gram
    bucket (``pmod(hash(key), n_buckets)``) and sorted by key within
    files, plus a 1-row totals table (n_total, n_buckets).
    ``n_buckets=None`` (default) self-sizes with the LM — ≥50k gram
    rows per bucket, floor 4, cap 4096 (SCALE_r16 §3; the r12 floor of
    32 made small layouts all file-open overhead) — so probe pruning
    stays worth its bucket-set collects as the LM grows; readers take
    the actual value from the stats table, never from a default.

    At 100 TB the LM count tables are vocabulary-sized — too big to
    broadcast, and deriving them on every scoring run shuffles the full
    LM corpus per query (the r11 shape).  This layout is the bm25
    postings contract applied to grams: build once at LM-training time;
    a scoring run joins against the stored tables (no LM-side shuffle),
    and a small PROBE (score a handful of documents) prunes to just the
    partitions its grams hash into — see
    :func:`trigram_probe_from_layout`'s partition-filter plan.
    """
    tri_lm = _trigram_windows(lm_documents).persist()
    try:
        n_total = max(tri_lm.count(), 1)
        if n_buckets is None:
            # auto-size with the LM (SCALE_r12 §3, re-floored per
            # VERDICT r15 task 2): the old floor of 32 made a sf0.1
            # layout 5 tables × 32 near-empty `b=` directories, and the
            # measured serving median was SLOWER than re-deriving the
            # counts — pure file-open overhead.  Floor 4, and double
            # only while every bucket would still hold ≥50k gram rows
            # AFTER the doubling (so a skipped bucket is always worth
            # its directory).  Cap 4096 (directory-count sanity).
            # Power of two only for predictability; pruning works for
            # any value since probe and writer share the expression.
            n_buckets = 4
            while n_buckets < 4096 and n_total // (2 * n_buckets) >= 50_000:
                n_buckets *= 2
        write_gram_tables(tri_lm, n_buckets, path)
        from pithos_spark.functions.layoutcommit import finalize_rebuild

        # n_segments=1: a fresh build holds exactly one partial row per
        # gram, so readers may skip the LSM merge (fast path below)
        write_gram_stats(
            lm_documents.sparkSession, f"{path}/stats", n_total, n_buckets, 1
        )
        # cut CURRENT back to this fresh generation 0 and GC old
        # generations and staging, so a rebuild of a compacted layout is
        # what readers see (ADVICE r15)
        finalize_rebuild(path)
    finally:
        tri_lm.unpersist()


def gram_segment(path: str):
    """The gram layout's segment writer, shared by the stream and the
    batch append: ``write(lm_documents, tmp)`` derives the batch's five
    gram count tables (delta-linear) and writes ALL FIVE into the one
    segment through :func:`write_gram_tables` with the layout's FROZEN
    bucket count (read back from the live generation's stats, never
    recomputed), so an installed segment always holds five complete,
    mutually-consistent tables.  Its window count is the segment's
    stats row (exactly re-derivable from the c3 sums if a crash ate
    the stats append)."""

    def write(lm_documents, tmp):
        stats = read_tiny_rows(f"{read_current(path)}/stats")[0]
        tri = _trigram_windows(lm_documents).persist()
        try:
            d_total = tri.count()
            write_gram_tables(tri, int(stats["n_buckets"]), tmp)
        finally:
            tri.unpersist()
        return lm_documents.sparkSession.range(1).select(
            F.lit(int(d_total)).alias("n_total")
        )

    return write


def append_to_trigram_lm_layout(
    delta_lm_documents: DataFrame, path: str
) -> None:
    """Crawl-delta maintenance for the gram layout (VERDICT r13 task 4
    — the ``append_to_ivfpq_residual_index`` contract transplanted):
    the delta's five count tables, hashed into the layout's FROZEN
    murmur3 buckets, and its window count install as one staged
    segment (:func:`gram_segment`, the streaming ingest's writer).
    Work is delta-linear — no full-vocabulary rewrite, no re-derivation
    of the base counts.

    A gram present in both base and delta then has one partial count
    row per segment; every reader merges segments per gram with one
    map-side-combinable sum (:func:`_merge_segment_counts` — the LSM
    read-merge) over base ∪ live segments
    (:func:`_load_trigram_layout`), so append==rebuild bit-exactly for
    every scoring path (contract test in tests/test_layout.py).  Probe
    pruning survives appends unchanged: frozen n_buckets means a
    gram's bucket never moves.  Assumes a non-empty base layout (the
    empty-LM n_total clamp is a build-time concern).

    Retry contract: a delta equal in content to one already appended
    IS a retry (the layout's input is new documents) — its segment key
    is the content hash (``layoutcommit.append_key``), so re-running
    the append after a crash at any step, or after it succeeded,
    leaves exactly one installed copy."""
    append_segment(path, delta_lm_documents, gram_segment(path))


def _merge_segment_counts(
    counts: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """LSM read-merge for (possibly appended) gram layouts: sum the
    per-segment partial count rows per gram key.  On a one-pass layout
    keys are already unique and this is a no-op aggregation; either
    way it is one map-side-combinable shuffle per count table, keyed on
    the same gram the scoring join shuffles on anyway."""
    key_of = {cnt: key for key, cnt in _TRIGRAM_COUNT_TABLES}
    return {
        cnt: df.groupBy(key_of[cnt]).agg(
            F.sum(cnt).cast("long").alias(cnt)
        )
        for cnt, df in counts.items()
    }


def _merged_counts_read(spark, roots: dict[str, list[str]]):
    """The LSM read-merge over ONE multi-directory scan (r18, guide
    §1/§2.4 — VERDICT r17 task 3): all five gram count tables (base
    generation + any staged segment dirs) are read in a single
    ``recursiveFileLookup`` + ``mergeSchema`` scan — each parquet file
    physically holds exactly one (key, count) column pair, so a row's
    table is recoverable as "whichever count column is non-null" — and
    summed per (table, gram) in ONE exchange that every per-table view
    below shares via ReuseExchange.  The former shape paid one scan
    per table per source (10 scans on a staged layout) plus five
    independent merge exchanges: 25 scheduling round trips per staged
    serve, each a stall opportunity (the r17 serving-family noise
    cluster).

    Values are identical to the per-table form: the tag is derived
    from physical column presence, so groups are exactly the old
    per-table groups (cross-table key collisions — a unigram string
    equal to a ctx1 string — stay separated by the tag).  Trade-off,
    measured and accepted: after the tagged aggregation the per-table
    views are partitioned on (tag, key), which an at-SMJ-scale scoring
    join cannot reuse as (key) clustering — one extra
    vocabulary-bounded exchange per table there, against 5 corpus-wide
    tri_score exchanges the join pays regardless (and at broadcast
    scale, exactly the same broadcasts as before).  The probe path
    keeps per-table partition-pruned reads (it needs the ``b``
    column this scan drops)."""
    from pithos_spark.plans.helpers import bounded_persist

    key_cols = [key for key, _ in _TRIGRAM_COUNT_TABLES]
    cnt_cols = [cnt for _, cnt in _TRIGRAM_COUNT_TABLES]
    paths = [p for cnt in cnt_cols for p in roots[cnt]]
    allr = (
        spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(*paths)
    )
    # the merged table is persisted for the invocation: without it the
    # per-table ``_kind`` filters push BELOW the aggregation (filters
    # on grouping keys move through aggregates), each branch re-plans
    # its own scan+exchange, and ReuseExchange has nothing identical to
    # share (measured: 5 scans of all dirs, jobs UP not down).  The
    # cache is vocabulary-bounded — the same size class the scoring
    # joins broadcast — and lives only inside this invocation's plans
    # (bounded_persist lifecycle).
    merged = bounded_persist(
        allr.select(
            F.coalesce(
                *[
                    F.when(F.col(c).isNotNull(), F.lit(i))
                    for i, c in enumerate(cnt_cols)
                ]
            ).alias("_kind"),
            F.coalesce(*[F.col(k) for k in key_cols]).alias("_key"),
            F.coalesce(*[F.col(c) for c in cnt_cols]).alias("_cnt"),
        )
        .groupBy("_kind", "_key")
        .agg(F.sum("_cnt").cast("long").alias("_sum")),
        "text.merged_counts",
    )
    return {
        cnt: merged.filter(F.col("_kind") == i).select(
            F.col("_key").alias(key), F.col("_sum").alias(cnt)
        )
        for i, (key, cnt) in enumerate(_TRIGRAM_COUNT_TABLES)
    }


def _n_segments_of(stats_row) -> int:
    """Segment count from a stats row; 0 (= unknown, always merge) for
    layouts written before the column existed."""
    try:
        return int(stats_row["n_segments"])
    except (KeyError, TypeError, ValueError):
        return 0


def _staged_trigram_total(spark, layout_path: str, live: list[str]) -> int:
    """Window count contributed by the live staged segments
    (``layoutcommit.staged_counters``); the derivation for a stats-less
    segment is exact (a trigram segment's n_total equals the sum of its
    c3 counts — the c3 table groups every window by its trigram, so
    unlike the postings derivation this one has no blind spot)."""

    def derive(missing):
        total = 0
        for s in missing:
            total += int(
                spark.read.parquet(f"{layout_path}/staged/seg={s}/c3")
                .agg(F.coalesce(F.sum("c3"), F.lit(0)).alias("t"))
                .collect()[0]["t"]
            )
        return {"n_total": total}

    return staged_counters(layout_path, live, ("n_total",), derive)[
        "n_total"
    ]


def _load_trigram_layout(
    spark, path: str, root: str | None = None, live: list | None = None
):
    """(count tables, table dirs, n_total, n_buckets, n_segments) of
    the layout's LIVE generation (layoutcommit.read_current — a fold
    swaps a pointer file, never mutates tables in place) with its
    ``live`` staged segments (default: every unfolded one; ``root``
    pins an already-resolved generation — one resolution for the base
    read and the fold mask, ADVICE r16).

    Each count table is the base's partial rows (``b`` from the
    partition directories, so a ``b IN (...)`` filter prunes them)
    unioned with the segments' rows in ONE recursive multi-path scan
    read with the table's declared schema (``b`` recomputed with the
    writer's own expression — the conflicting-directory-structures
    check rules out a partitioned multi-root read).  ``dirs`` lists
    every file root per table, base first, for the one-scan merge
    (:func:`_merged_counts_read`); n_total adds the segments' window
    counts.  n_segments == 1 means every gram holds exactly one count
    row, so readers skip the LSM merge; it reads 0 (merge) while
    segments are live."""
    if root is None:
        root = read_current(path)
    if live is None:
        live = live_staged_segs(path, root)
    stats = read_tiny_rows(f"{root}/stats")[0]
    n_buckets = int(stats["n_buckets"])
    dirs = {
        cnt: [f"{root}/{cnt}"]
        + [f"{path}/staged/seg={s}/{cnt}" for s in live]
        for _, cnt in _TRIGRAM_COUNT_TABLES
    }
    counts = {}
    for key, cnt in _TRIGRAM_COUNT_TABLES:
        counts[cnt] = spark.read.parquet(dirs[cnt][0])
        if live:
            staged = (
                spark.read.schema(
                    StructType(
                        [
                            StructField(key, StringType()),
                            StructField(cnt, LongType()),
                        ]
                    )
                )
                .option("recursiveFileLookup", "true")
                .parquet(*dirs[cnt][1:])
                .withColumn(
                    "b", F.pmod(F.hash(F.col(key)), F.lit(n_buckets))
                )
            )
            counts[cnt] = counts[cnt].unionByName(staged)
    n_total = int(stats["n_total"])
    if live:
        n_total += _staged_trigram_total(spark, path, live)
    return (
        counts,
        dirs,
        n_total,
        n_buckets,
        0 if live else _n_segments_of(stats),
    )


def trigram_segment_stats(spark, path: str) -> DataFrame:
    """LSM segment-occupancy telemetry for the gram layout (r14): per
    count table, how many gram keys it holds, how many stored partial
    rows, and the max / average segments per gram (rows per key).  On
    a one-pass layout every line reads n_keys == n_rows with max 1; an
    appended layout's average climbing toward its segment count prices
    exactly what the read merge (:func:`_merge_segment_counts`) pays
    per query and says when to compact — the compaction-sizing
    readout, playing the role dedup_shingle_df_stats plays for the
    posting join and pq_code_bucket_stats for the code tier.  The
    average is integer permille (1000 * n_rows div n_keys) so the
    report is oracle-exact.  Cost: one map-side-combinable aggregation
    per count table over the layout files; output is 5 rows.

    The number an operator acts on is ``avg_segments_x1000``: fold when
    it crosses COMPACT_WHEN_AVG_SEGMENTS_X1000
    (streaming/ingest.py — derived from the measured per-segment
    serving tax vs compaction cost, SCALE_r15).  The report covers
    base ∪ live staged segments (:func:`_load_trigram_layout`) —
    exactly the partial rows a merged serving read sums and a fold
    would collapse; with nothing staged it is the base's."""
    counts = _load_trigram_layout(spark, path)[0]
    return _segment_stats_from_counts(counts)


def _segment_stats_from_counts(counts: dict[str, DataFrame]) -> DataFrame:
    """The occupancy aggregation of :func:`trigram_segment_stats`."""
    key_of = {cnt: key for key, cnt in _TRIGRAM_COUNT_TABLES}
    out = None
    for _key, cnt in _TRIGRAM_COUNT_TABLES:
        per_key = counts[cnt].groupBy(key_of[cnt]).agg(
            F.count(F.lit(1)).alias("_segs")
        )
        t = per_key.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("_segs").cast("long").alias("n_rows"),
            F.max("_segs").cast("long").alias("max_segments"),
        ).select(
            F.lit(cnt).alias("gram_table"),
            "n_keys",
            "n_rows",
            "max_segments",
            F.expr("(1000 * n_rows) div n_keys").alias(
                "avg_segments_x1000"
            ),
        )
        out = t if out is None else out.unionByName(t)
    return out.orderBy("gram_table")


def trigram_segment_stats_oracle(base_pred: str, delta_pred: str) -> str:
    """DuckDB twin of :func:`trigram_segment_stats` over a layout built
    as write(base_pred docs) + one append(delta_pred docs): each count
    table then holds one partial row per gram per slice it appears in,
    so segments-per-gram derives straight from the two slices' distinct
    gram sets — no layout files needed on the oracle side."""

    def tri_cte(name: str, pred: str) -> str:
        return f"""{name}_toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents WHERE {pred}
), {name}_tri AS (
    SELECT array_to_string(t[i:i+2], ' ') AS tri,
           array_to_string(t[i:i+1], ' ') AS ctx2,
           array_to_string(t[i+1:i+2], ' ') AS bi,
           t[i+1] AS ctx1,
           t[i+2] AS w3
    FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i
          FROM {name}_toks WHERE len(t) >= 3)
)"""

    arms = []
    for key, cnt in _TRIGRAM_COUNT_TABLES:
        arms.append(f"""\
SELECT '{cnt}' AS gram_table,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(segs) AS BIGINT) AS n_rows,
       CAST(max(segs) AS BIGINT) AS max_segments,
       CAST((1000 * sum(segs)) // count(*) AS BIGINT)
           AS avg_segments_x1000
FROM (
    SELECT g, count(*) AS segs FROM (
        SELECT DISTINCT {key} AS g FROM base_tri
        UNION ALL
        SELECT DISTINCT {key} AS g FROM delta_tri
    ) u GROUP BY g
) s""")
    return (
        "WITH "
        + tri_cte("base", base_pred)
        + ", "
        + tri_cte("delta", delta_pred)
        + "\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY gram_table"
    )


def trigram_heldout_from_layout(
    documents: DataFrame,
    path: str,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> DataFrame:
    """Held-out Jelinek-Mercer scoring against the MATERIALIZED gram
    layout — bit-identical to :func:`trigram_heldout_score` over the
    same LM slice (both run :func:`_trigram_score`; the stored counts
    are value-identical to the derived ones), but the LM side is a
    parquet read instead of a per-run corpus shuffle.

    Serves base ∪ live staged segments (:func:`_load_trigram_layout`;
    n_total adds their window counts).  One-segment fast path (VERDICT
    r14 task 5): the LSM read-merge is pure tax on a layout whose grams
    hold one row each (fresh build or post-compaction, nothing staged —
    stats says so via n_segments), so it only runs on genuinely
    multi-segment layouts; there the merge runs as ONE tagged
    scan+exchange over all five tables' base and segment files
    (:func:`_merged_counts_read`, r18 — the former per-table merges
    cost 5 scans + 5 exchanges = ~8 more scheduling round trips per
    serve; pinned in tests/test_plans.py)."""
    from pithos_spark.plans.helpers import bounded_persist

    spark = documents.sparkSession
    counts, dirs, n_total, _, n_segments = _load_trigram_layout(spark, path)
    counts = {cnt: df.drop("b") for cnt, df in counts.items()}
    if n_segments != 1:
        counts = _merged_counts_read(spark, dirs)
    tri_score = bounded_persist(
        _trigram_windows(documents), "trigram_layout.tri_score"
    )
    return _trigram_score(tri_score, counts, n_total, l3, l2, l1, low, high)


def trigram_probe_from_layout(
    probe_documents: DataFrame,
    path: str,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
) -> DataFrame:
    """Score a SMALL probe set against the layout, reading only the
    gram-bucket partitions the probe's own grams hash into: each count
    table gets a static ``b IN (...)`` filter (at most n_buckets
    values, collected driver-side from the probe — bounded by
    construction), which Spark turns into partition pruning
    (PartitionFilters on the scan, asserted in tests/test_plans.py).
    Same scores as :func:`trigram_heldout_from_layout` on the same
    probe: a pruned-away partition can only hold grams the probe never
    joins, and missing grams coalesce to the same zeros either way.
    Live staged segments' rows carry the same bucket, recomputed
    (:func:`_load_trigram_layout`), so the filter drops them by value.

    The 100 TB serving shape for "is this new crawl shard in-domain?":
    the layout holds billions of gram rows, a probe of a few thousand
    documents touches a handful of buckets."""
    from pithos_spark.plans.helpers import bounded_persist

    spark = probe_documents.sparkSession
    counts, _, n_total, n_buckets, n_segments = _load_trigram_layout(
        spark, path
    )
    tri_probe = bounded_persist(
        _trigram_windows(probe_documents), "trigram_layout.tri_probe"
    )
    # ALL five bucket sets in ONE driver job (collect_set per key over
    # the persisted probe windows) instead of five sequential
    # distinct().collect() round trips (guide §2.6/§5.1); each set is
    # still bounded by n_buckets values by construction.
    bucket_sets = tri_probe.select(
        *[
            F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).alias(cnt)
            for key, cnt in _TRIGRAM_COUNT_TABLES
        ]
    ).agg(
        *[
            F.collect_set(cnt).alias(cnt)
            for _key, cnt in _TRIGRAM_COUNT_TABLES
        ]
    ).collect()[0]
    pruned = {}
    for _key, cnt in _TRIGRAM_COUNT_TABLES:
        buckets = [int(b) for b in bucket_sets[cnt]]
        pruned[cnt] = (
            counts[cnt].filter(F.col("b").isin(buckets)).drop("b")
        )
    # same one-segment fast path as trigram_heldout_from_layout
    if n_segments != 1:
        pruned = _merge_segment_counts(pruned)
    return _trigram_score(
        tri_probe,
        pruned,
        n_total,
        l3,
        l2,
        l1,
        low,
        high,
    )
