"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Spark SQL functions (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each operator has a DuckDB-dual
formulation used by the oracle queries in relational/pipeline_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.session import local_frame


def token_count(text: Column) -> Column:
    """Whitespace token count (split on runs of whitespace after trim)."""
    return F.size(F.split(F.trim(text), r"\s+"))


# GPT-2-style pre-tokenizer pattern, restricted to the Java-regex ∩ RE2
# intersection so Spark (java.util.regex) and DuckDB (RE2) produce the
# IDENTICAL token stream: English contraction suffixes, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation
# runs, whitespace runs. Deviation from the exact GPT-2 pattern: the
# trailing `\s+(?!\S)` lookahead is dropped (RE2 has no lookahead), so
# a whitespace run before a token stays one run instead of splitting
# its last space onto the next token.
PRETOKENIZE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}']+|\s+"
)


def pretokenize(text: Column, pattern: str = PRETOKENIZE_PATTERN) -> Column:
    """BPE-style pre-tokenization: the array of pattern matches, in
    order — the segmentation step every byte-pair tokenizer runs BEFORE
    merges (merges never cross pre-token boundaries). Pure codegen
    (regexp_extract_all with group 0 — Spark's default idx=1 wants a
    capture group), no UDF; one generator over the scan."""
    return F.regexp_extract_all(text, F.lit(pattern), 0)


def char_class_count(text: Column, char_class: str) -> Column:
    """Number of characters matching a regex class, via global removal of
    the complement — dialect-portable (no regexp_count in DuckDB 1.0)."""
    return F.length(F.regexp_replace(text, f"[^{char_class}]", ""))


def substring_occurrences(text: Column, needle: str) -> Column:
    """Non-regex substring occurrence count via length arithmetic."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


# stopword markers per language for the n-gram/stopword lang-id heuristic.
# Deliberately tiny and deterministic; quality is data-dependent, the
# operator contract is the scoring rule itself.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " los ", " una "],
    "fr": [" le ", " les ", " des "],
    "zh": ["的", "是", "了"],
}


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-occurrence scores over a padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(
            (substring_occurrences(padded, m) for m in markers), F.lit(0)
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(text: Column) -> Column:
    """Argmax language by marker score; ties break in LANG_MARKERS order;
    all-zero scores -> 'unknown'."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / alpha-ratio / token quality features —
    the heuristic-quality-score family for corpus filtering."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_alpha = char_class_count(t, "a-zA-Z")
    n_punct = char_class_count(t, "!?.,;:")
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(n_alpha / n_chars, 4).alias("q_alpha_ratio"),
        n_punct.alias("q_n_punct"),
        F.round(n_chars / n_tokens, 4).alias("q_avg_token_len"),
    )


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercased, trimmed text."""
    return F.md5(F.lower(F.trim(text)))


def tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode lowercase whitespace tokens: one (id, term) row per token
    occurrence. The vocabulary/TF-IDF primitive — a generator (explode)
    over a narrow projection, so upstream column pruning reaches the
    scan and the fan-out carries only (id, term)."""
    return (
        df.select(
            id_col,
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
                "term"
            ),
        )
        .where(F.col("term") != "")
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k most-characteristic terms per document by TF-IDF with a
    *linearized* idf — score = tf * (N + 1) / (df + 1).

    The linear idf ranks identically to log-idf for a fixed term (both
    monotone-decreasing in df) and keeps every arithmetic step exact
    across engines (integer product, one IEEE division — no libm log
    whose last ulp may differ between the JVM and DuckDB), so the
    operator stays value-hash checkable.

    Shape: the token stream is exploded and aggregated to (doc, term,
    tf) exactly ONCE; doc frequency comes from a count window over the
    term partition of that same relation (a separate groupBy-join
    formulation recomputes the explode — the dominant cost at scale —
    because the two agg subplans differ and exchange reuse can't fire).
    A 1-row corpus count cross-joins as a broadcast scalar; the per-doc
    top-k row_number benefits from WindowGroupLimit partial pushdown.
    """
    from pyspark.sql import Window

    tok = tokens(df, text_col=text_col, id_col=id_col)
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1), 6
    ).alias("tfidf")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .join(F.broadcast(n))
        .select(id_col, "term", "tf", "df", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document to a small bag-of-terms
    query. Because the query is a fixed small term list, the whole
    computation pivots into per-doc conditional counts: ONE explode +
    ONE per-doc aggregation (dl + tf per query term), a 1-row global
    aggregate (N, total length, df per term) broadcast back, then pure
    scalar math — no per-term joins, no second pass over the tokens.

    Returns (id, dl, bm25). The idf log is the only libm call; the
    oracle dual spells the identical expression order so the rounded
    score is engine-stable.
    """
    tok = tokens(df, text_col=text_col, id_col=id_col)
    perdoc = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    g = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    parts = []
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfc = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        sat = (tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
        )
        parts.append(idf * sat)
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return perdoc.join(F.broadcast(g)).select(
        id_col, "dl", F.round(score, 6).alias("bm25")
    )


def scrub(
    df: DataFrame,
    pattern: str,
    replacement: str = "<REDACTED>",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pattern scrubbing (the PII-redaction shape): replace every match
    of ``pattern`` and count the replacements — all JVM-side regex, no
    UDF. Keep patterns in the RE2-compatible subset (alternation,
    classes, \\b) so the DuckDB oracle dual behaves identically.

    Returns (id, n_redacted, redacted_fp) — the fingerprint rather than
    the full redacted payload, so the output stays narrow at scale."""
    t = F.col(text_col)
    return df.select(
        id_col,
        (F.size(F.split(t, pattern, -1)) - 1).alias("n_redacted"),
        F.md5(F.regexp_replace(t, pattern, replacement)).alias("redacted_fp"),
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    word-level: the fraction of duplicate words and the share of the
    most-frequent word bigram. High values flag boilerplate/spam docs a
    training corpus should drop.

    Computed entirely with per-row array higher-order functions — no
    explode, no shuffle, one codegen stage: at 100 TB this is a pure map
    over the corpus. The bigram mode is sort + longest-equal-run via ONE
    aggregate pass (O(n log n) per row) — the naive
    count-each-distinct-against-all form is O(n^2) interpreted-lambda
    evaluations per row and measured ~50x slower at sf0.1. The word and
    bigram arrays materialize once in intermediate projections so no
    expression re-evaluates the split."""
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # bigrams by zipping the word array against itself shifted one — no
    # positional element_at (Spark's sequence(1, 0) DESCENDS rather than
    # returning empty, so an index-transform form would fault on
    # single-word docs); slices of a 1-word array are empty and zip_with
    # of empties is empty
    staged = df.withColumn("__w", w).withColumn(
        "__bg",
        F.expr(
            "zip_with(slice(__w, 1, size(__w) - 1),"
            " slice(__w, 2, size(__w) - 1), (a, b) -> concat(a, ' ', b))"
        ),
    )
    dup_word_frac = F.round(
        (F.size("__w") - F.size(F.array_distinct("__w"))) / F.size("__w"), 4
    )
    # mode count of a sorted array = longest run of equal neighbors
    top = F.expr(
        "aggregate(array_sort(__bg),"
        " named_struct('prev', '', 'run', 0, 'best', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x = acc.prev, acc.run + 1, 1),"
        "   'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )
    top_bigram_frac = F.when(
        F.size("__bg") > 0, F.round(top / F.size("__bg"), 4)
    ).otherwise(F.lit(0.0))
    return staged.select(
        *df.columns,
        dup_word_frac.alias("dup_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size overlapping character chunks (RAG/window chunking):
    chunk i covers [i*stride, i*stride + chunk_size). The last chunk may
    be short; every character is covered. A generator explode over a
    narrow projection — the same scale shape as shingling (the scan
    prunes to (id, text), the fan-out carries only chunk rows)."""
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    n = F.length(F.col(text_col))
    # number of extra chunks beyond the first: ceil(max(n - chunk, 0) / stride)
    extra = F.floor(
        (F.greatest(n - F.lit(chunk_size), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    return (
        df.select(id_col, text_col)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), extra)).alias("chunk_idx"),
            F.col(text_col),
        )
        .select(
            id_col,
            "chunk_idx",
            F.col(text_col)
            .substr(F.col("chunk_idx") * stride + 1, F.lit(chunk_size))
            .alias("chunk_text"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.length("chunk_text").alias("chunk_len"),
            F.md5("chunk_text").alias("chunk_md5"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    part_col: str = "lang",
    order_col: str = "doc_id",
    tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to training
    context windows (packs) of ``budget`` tokens by running offset —
    pack_id = floor(preceding-token-count / budget) within each
    ``part_col`` partition, in ``order_col`` order. Documents never
    reorder (deterministic curriculum), a doc may straddle its pack
    boundary (the standard packed-sequence trade vs bin-packing, which
    is inherently sequential). One window shuffle on (part, order) — at
    scale the partition key keeps packs language-local so downstream
    writers can emit one file per pack range."""
    from pyspark.sql import Window

    toks = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(toks).over(w)
    return df.select(
        order_col,
        part_col,
        toks.alias("n_tokens"),
        F.floor((cum - toks) / F.lit(budget)).cast("long").alias("pack_id"),
    )


def bpe_train(
    docs: DataFrame,
    rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """TRAIN a byte-pair-encoding merge table on the corpus: the
    iterative half of tokenization that x28's fixed-rule tokenizer
    assumes already exists. Returns the learned rules
    (round, lhs, rhs, merged, pair_count) in merge order.

    The scale shape is the real-world one: the CORPUS is touched exactly
    once (the word-frequency aggregation); every merge round then runs
    on the (word, tf) VOCABULARY table — orders of magnitude smaller —
    as one distributed pair-count aggregation plus a 1-row argmax
    collect (the k-means driver-loop convention: per-round driver state
    is one merge rule, never data). Words are token sequences delimited
    by TWO spaces (" a  b  c "); the winning pair merges via a single
    non-overlapping left-to-right literal replace of " a  b " with
    " ab ". The double delimiter is load-bearing: each match consumes
    one space from each flanking delimiter, leaving one for the
    adjacent match, so back-to-back occurrences of the pair all merge
    in one pass — exactly canonical greedy BPE (scan left to right,
    merge, skip past the merged token). A single-space convention
    silently skips every second occurrence in runs like "hahahaha"
    (round-5 postmortem: self-consistent deviations survive oracle
    gates). Engine-portable: the x68 oracle unrolls the same
    double-space replace in SQL.

    Ties break deterministically by (count desc, lhs, rhs)."""
    spark = docs.sparkSession
    words = tokens(docs, text_col=text_col, id_col=id_col).groupBy("term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # ' a  b  c ' — tokens flanked by single boundary spaces, separated
    # by DOUBLE spaces: a merge replace can never match inside a token,
    # and adjacent matches never fight over a shared delimiter char
    seqs = words.select(
        "tf",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("term"), "(.)", "$1  ")
        ).alias("seq"),
    ).localCheckpoint()  # cut the corpus lineage: rounds iterate on vocab only
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        arr = F.split(F.trim(F.col("seq")), " +")
        zipped = F.arrays_zip(
            F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))).alias("ca"),
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))).alias("cb"),
        )
        top = (
            seqs.select("tf", F.explode(zipped).alias("z"))
            .select(F.col("z.ca").alias("a"), F.col("z.cb").alias("b"), "tf")
            .groupBy("a", "b")
            .agg(F.sum("tf").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((r, a, b, a + b, c))
        # lazy projection chain, NOT a per-round checkpoint: the
        # replace is a stateless literal over the ONE pinned vocab, so
        # round r's aggregation applies r chained replaces fused into
        # a single whole-stage-codegen projection (the exact shape the
        # x68 oracle unrolls in SQL, and bpe_encode_vocab's apply
        # idiom). A checkpoint here would add one full vocab
        # materialization job per round for no reuse — the rounds are
        # the only consumer, and recomputing <= `rounds` cheap string
        # replaces per pass costs less than the job + block-manager
        # write at every scale (r13 A/B: x73 3.87 -> 3.00 s median).
        seqs = seqs.select(
            "tf",
            F.replace(
                F.col("seq"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("seq"),
        )
    return local_frame(
        spark, merges, "round int, lhs string, rhs string, merged string, pair_count bigint"
    )


def bpe_encode_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE the corpus vocabulary with a learned BPE merge table
    (the apply half of bpe_train): (term, tf, toks array<string>).

    Applying n merge rules is n chained literal replaces over the
    double-space-delimited character sequence — one projection, fully
    whole-stage-codegen, zero Python. The corpus collapses to its
    DISTINCT-word vocabulary first (the same orders-of-magnitude
    reduction bpe_train exploits); per-document token streams come from
    joining this mapping back on the word, never from re-running the
    merges per document."""
    words = tokens(docs, text_col=text_col, id_col=id_col).groupBy("term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    seq = F.concat(F.lit(" "), F.regexp_replace(F.col("term"), "(.)", "$1  "))
    for a, b in merges:
        seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return words.select(
        "term", "tf", F.split(F.trim(seq), " +").alias("toks")
    )
