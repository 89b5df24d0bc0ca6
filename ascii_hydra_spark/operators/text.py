"""Text-analysis operators over document tables (SURVEY.md C5-C8).

The reference ships Spark NLP jars for this surface (resources/spark.py:67,
databricks.py:76-78) but exercises none of it in-repo; here the equivalent
capabilities are native Spark SQL expressions (JVM-side, codegen-friendly),
which both scales better than per-row NLP UDFs and stays DuckDB-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ascii_hydra_spark.operators.lineage import truncate_lineage
from ascii_hydra_spark.functions import (
    LANG_MARKERS,
    bpe_ish_tokens,
    lang_marker_score,
    md5_fingerprint,
    ngrams,
    quality_score,
    rolling_fingerprint,
    token_count,
    word_tokens,
)


def text_stats(docs: DataFrame, text_col: str = "text", by: str | None = "lang") -> DataFrame:
    """Per-group document statistics: doc count, avg chars, avg tokens."""
    base = docs.withColumn("__chars", F.length(text_col)).withColumn(
        "__toks", token_count(text_col)
    )
    keys = [by] if by else []
    return base.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("__chars"), 6).alias("avg_chars"),
        F.round(F.avg("__toks"), 6).alias("avg_tokens"),
    )


def term_frequencies(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf): per-document term counts via explode + count."""
    return (
        docs.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def document_frequencies(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(term, df): number of documents containing each term."""
    return (
        docs.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def ngram_counts(
    docs: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(ngram, cnt): corpus-wide word n-gram counts."""
    return (
        docs.select(F.explode(ngrams(word_tokens(text_col), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token counts: whitespace tokens and BPE-ish subword tokens."""
    return docs.select(
        F.col(id_col),
        token_count(text_col).alias("ws_tokens"),
        F.size(bpe_ish_tokens(text_col)).alias("bpe_tokens"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-marker language identification (deterministic heuristic).

    Scores each language by marker-stopword hits over the token stream and
    picks the argmax; ties and zero-hit docs resolve to 'und'. Expressible in
    ANSI SQL (the oracle replicates it), unlike model-based lang-ID.
    """
    toks = word_tokens(text_col)
    scored = docs.select(
        F.col(id_col),
        *[lang_marker_score(toks, lang).alias(f"__s_{lang}") for lang in LANG_MARKERS],
    )
    # argmax with deterministic tie-break: highest score, then lexicographic lang
    pairs = F.array(
        *[
            F.struct(F.col(f"__s_{lang}").alias("s"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["s"] > 0))
    # array_max on struct compares field-by-field: max score, then max lang;
    # to get lexicographic-min lang on ties we negate via sort_array desc+first
    ordered = F.sort_array(F.filter(pairs, lambda p: p["s"] > 0), asc=False)
    pred = F.when(F.size(ordered) == 0, F.lit("und")).otherwise(
        _first_best(ordered)
    )
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


def _first_best(ordered):
    """ordered is sorted desc by (score, lang); take all with max score and
    return the lexicographically smallest lang among them."""
    top_score = ordered[0]["s"]
    best_langs = F.transform(
        F.filter(ordered, lambda p: p["s"] == top_score), lambda p: p["lang"]
    )
    return F.array_min(best_langs)


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc deterministic quality score in [0,1] (see functions.quality_score)."""
    return docs.select(F.col(id_col), F.round(quality_score(text_col), 6).alias("quality"))


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc content fingerprints: md5 hex + polynomial rolling hash."""
    return docs.select(
        F.col(id_col),
        md5_fingerprint(text_col).alias("md5_fp"),
        rolling_fingerprint(text_col).alias("poly_fp"),
    )


def regex_filter(docs: DataFrame, pattern: str, text_col: str = "text") -> DataFrame:
    """rlike predicate filter (pushed into the scan where possible)."""
    return docs.filter(F.col(text_col).rlike(pattern))


def build_vocab(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Frequency-ranked vocabulary table: (token, vocab_id, count, df).

    vocab_id is the dense frequency rank (count desc, token asc — total
    order, so ids are deterministic across engines and reruns). The
    count/df aggregation shuffles on the token; the id assignment is a
    single global window sort, which is fine because it runs on the
    POST-min_df vocabulary (≈1e5-1e6 rows at web scale), not the corpus.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("count"),
            F.countDistinct(id_col).alias("df"),
        )
        .filter(F.col("df") >= min_df)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("count"), F.col("token"))
    vocab = tf.withColumn("vocab_id", F.row_number().over(w).cast("bigint"))
    if max_vocab is not None:
        vocab = vocab.filter(F.col("vocab_id") <= max_vocab)
    return vocab.select("token", "vocab_id", "count", "df")


def top_terms_per_group(
    docs: DataFrame,
    by: str = "lang",
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group heavy hitters: the k most frequent tokens per group with
    deterministic tie-break (count desc, token asc).

    Two-level aggregation — partial counts combine map-side before the
    (group, token) shuffle — then a per-group window top-k: state per
    group is k rows, never a global sort. The scan shuffles counted
    (group, token) partials, not the token stream.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.col(by), F.explode(word_tokens(text_col)).alias("token"))
        .groupBy(by, "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.desc("cnt"), F.col("token"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select(by, "rk", "token", "cnt")
    )


# ---------------------------------------------------------------- PII redaction

# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# interpret identically: character classes, bounded repetition, \b — no
# lookaround, no backreferences. Order matters: ipv4 before phone so a
# dotted quad is never half-eaten as a digit run.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{4}"),
)


def redact_pii(
    docs: DataFrame,
    text_col: str = "text",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Scrub PII-shaped spans and count them per document.

    Adds `text_redacted` (every match replaced by `<TYPE>`) and one
    `n_<type>` count column per pattern. Pure `regexp_replace` /
    `regexp_count` column expressions — a narrow projection over the scan
    with zero shuffles, which is the only shape that works as a
    pre-tokenizer pass over 100 TB. Counts are computed on the ORIGINAL
    text, replacement is sequential in declaration order (each pattern
    sees the previous pattern's output, so overlapping families like
    ipv4/phone resolve deterministically).
    """
    out = docs
    red = F.col(text_col)
    for name, pat in patterns:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("text_redacted", red)


# ---------------------------------------------------------------- boilerplate

def token_window_segments(text: Column | str, k: int = 4) -> Column:
    """Non-overlapping k-token windows, space-joined — the fixture-visible
    segmentation (the synthetic docs are single-line; on real corpora pass
    `line_segments` to segment on newlines instead)."""
    toks = word_tokens(text)
    n_seg = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0)))
    segs = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)))
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(segs)


def line_segments(text: Column | str) -> Column:
    """Newline-delimited segments (CCNet-style paragraph units)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\n+"), lambda s: s != "")


def remove_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segments=token_window_segments,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-wide boilerplate removal (CCNet-style paragraph dedup).

    A segment occurring in >= `min_docs` DISTINCT documents is boilerplate
    (headers, footers, cookie banners at crawl scale); every occurrence is
    dropped and each document is reassembled from its surviving segments
    in original order.

    Scale shape: posexplode -> distinct (doc, segment) -> count per segment
    gives the blacklist, which is TINY relative to the corpus (only
    segments repeated across >= min_docs docs survive the HAVING) — so the
    scrub join is `left_anti` against a small table AQE broadcasts. The
    expensive shuffle is the segment-keyed count, whose shuffled bytes are
    (segment, doc) pairs after map-side partial distinct, never document
    text. Reassembly is one groupBy on the doc key with an order-preserving
    sort inside the aggregated array (no extra sort shuffle).
    """
    # The segment table feeds BOTH the blacklist aggregation and the scrub
    # join; materialize it ONCE (measured ~30% of op time at sf0.1 when
    # computed twice). Checkpoint rather than persist: blocks are
    # disk-backed (spill not OOM at 100 TB) and are reclaimed by the
    # ContextCleaner when the returned plan is dropped — a bare persist()
    # here accumulated MEMORY_AND_DISK blocks for the session lifetime on
    # every call. Cost: the operator is EAGER.
    # min-parallelism spread (guide §2.1): the segment explode feeding this
    # checkpoint otherwise runs on the scan's split count — ONE 1.5-1.65 s
    # task on the single-row-group sf0.1 fixture; a no-op at scale
    from ascii_hydra_spark.operators.dedup import _ensure_min_parallelism

    seg = truncate_lineage(
        _ensure_min_parallelism(docs).select(
            F.col(id_col), F.posexplode(segments(text_col)).alias("pos", "seg")
        )
    )
    blacklist = (
        seg.select(id_col, "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg")
    )
    kept = seg.join(blacklist, "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))), lambda s: s["seg"]
            ),
        ).alias("text_clean"),
        F.count("*").alias("n_segments_kept"),
    )
    # left join back so fully-boilerplate docs survive with empty text
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_segments_kept", F.lit(0)).cast("bigint").alias("n_segments_kept"),
        )
    )


# ---------------------------------------------------------------- chunking

def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 32,
    stride: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking (RAG / embedding prep).

    One row per (doc, chunk): chunk start offset, token count, and the
    chunk text. Overlap = chunk_size - stride. Chunk starts are generated
    with `sequence` + `transform` and exploded, so chunking is a per-row
    map + explode — parallelism is per-chunk downstream (embedding UDFs see
    chunk-sized rows, not documents), and nothing shuffles here at all.
    Empty documents yield zero chunks.
    """
    if stride < 1 or chunk_size < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = word_tokens(text_col)
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_size)).alias("chunk_text"),
            F.least(F.size(toks) - s, F.lit(chunk_size)).alias("chunk_tokens"),
        ),
    )
    guarded = F.when(F.size(toks) == 0, F.array().cast(
        "array<struct<start:int,chunk_text:string,chunk_tokens:int>>"
    )).otherwise(chunks)
    return docs.select(F.col(id_col), F.explode(guarded).alias("c")).select(
        id_col,
        F.col("c.start").alias("start"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


# ----------------------------------------------------- substring dedup
# Exact substring deduplication (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" operation): any W-token
# window occurring more than once in the corpus is duplicated text; every
# occurrence except one canonical copy is removed. The reference method
# builds a corpus-wide suffix array; the relational formulation here gets
# the same answer for fixed W via window fingerprints — each doc emits
# (pos, md5(window)) pairs, duplicated fingerprints mark spans, spans are
# merged per doc (gaps-and-islands), and surviving tokens reassemble.
# Every step is a shuffle on bounded keys (fingerprint / doc id), no
# suffix array and no driver state — the 100 TB shape.


def duplicate_window_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Merged token spans [span_start, span_end) per doc that are covered
    by NON-CANONICAL occurrences of duplicated W-token windows. The
    canonical occurrence of each window is the (doc_id, pos)-minimum, so
    exactly one copy of every duplicated passage survives corpus-wide.
    """
    toks = word_tokens(text_col)
    n = F.size(toks)
    win = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))).alias("wh"),
            ),
        ),
    ).otherwise(F.array())
    occ = docs.select(F.col(id_col), F.explode(win).alias("o")).select(
        id_col, F.col("o.pos").alias("pos"), F.col("o.wh").alias("wh")
    )
    from pyspark.sql import Window as W

    rk = W.partitionBy("wh").orderBy(id_col, "pos")
    marked = occ.select(
        id_col, "pos",
        F.row_number().over(rk).alias("__rk"),
        F.count("*").over(W.partitionBy("wh")).alias("__n"),
    )
    removals = marked.filter((F.col("__n") > 1) & (F.col("__rk") > 1)).select(
        id_col, "pos", (F.col("pos") + window).alias("end")
    )
    # merge overlapping/adjacent spans per doc: gaps-and-islands on the
    # running max end; span count per doc is bounded by n_tokens/1, tiny
    # relative to the corpus
    wd = W.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("end").over(wd.rowsBetween(W.unboundedPreceding, -1))
    islands = removals.withColumn(
        "__new", F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0)
    ).withColumn("__island", F.sum("__new").over(wd))
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max("end").cast("bigint").alias("span_end"),
        )
        .drop("__island")
    )


def remove_duplicate_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Corpus-wide exact substring dedup: returns (doc_id, text_clean,
    n_tokens_kept, n_tokens_removed) with every duplicated W-token passage
    reduced to its single canonical occurrence. Docs without duplicated
    spans pass through with their token-joined text unchanged.

    Shape: spans per doc are collected into a (small) array and the token
    stream filters against it positionally in one expression — no
    token-vs-span range join, one doc-key shuffle for reassembly.
    """
    spans = duplicate_window_spans(docs, id_col, text_col, window)
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = word_tokens(text_col)
    joined = docs.select(F.col(id_col), toks.alias("__toks")).join(
        span_arr, id_col, "left"
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.coalesce(F.col("__spans"), F.array()),
        lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
    )
    kept = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.when(~covered(i.cast("bigint")), t),
        ),
        lambda t: t.isNotNull(),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """(term_a, term_b, pair_n, pmi): pointwise mutual information of
    adjacent token pairs — the classic collocation detector (Church &
    Hanks 1990), used in training-data pipelines to mine multi-word
    expressions worth protecting from tokenizer splits.

    PMI is computed entirely from the bigram table so both probability
    marginals live in one distribution: with N = total bigrams, c_ab the
    pair count, c_a* the count of bigrams starting with a and c_*b the
    count ending with b,  pmi = ln(c_ab * N / (c_a* * c_*b)).  All four
    counts are exact integers, so the double division and single `ln`
    are bit-identical across engines.

    Scale: two corpus-sized shuffles (bigram count, then two broadcast-
    joined marginal tables keyed by single terms). The marginal tables
    are vocabulary-sized — broadcastable far beyond 100 TB of text.
    """
    pairs = (
        docs.select(F.explode(ngrams(word_tokens(text_col), 2)).alias("bg"))
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("term_a"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("pair_n"))
    )
    pairs = truncate_lineage(pairs)  # reused by 3 branches below
    total = pairs.agg(F.sum("pair_n").alias("n_total"))
    left = pairs.groupBy("term_a").agg(F.sum("pair_n").alias("left_n"))
    right = pairs.groupBy("term_b").agg(F.sum("pair_n").alias("right_n"))
    scored = (
        pairs.filter(F.col("pair_n") >= min_count)
        .join(F.broadcast(left), "term_a")
        .join(F.broadcast(right), "term_b")
        .crossJoin(F.broadcast(total))
    )
    pmi = F.log(
        (F.col("pair_n") * F.col("n_total")).cast("double")
        / (F.col("left_n") * F.col("right_n")).cast("double")
    )
    return scored.select(
        "term_a", "term_b", "pair_n", F.round(pmi, 6).alias("pmi")
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, entropy): Shannon entropy (nats) of each document's
    unigram distribution — a quality signal: pathologically repetitive
    docs score near 0, diverse text near ln(vocab).

    Uses the algebraic form H = ln(n) - (sum over distinct tokens of
    c*ln(c)) / n so the only cross-engine float accumulation is one
    per-doc sum of c*ln(c) terms (rounded to 6 dp at the end).

    Scale: explode + two-level groupBy, partial-aggregated map-side;
    no windows, no driver state.
    """
    tf = term_frequencies(docs, id_col=id_col, text_col=text_col)
    per_doc = tf.groupBy(id_col).agg(
        F.sum("tf").alias("__n"),
        F.sum(F.col("tf").cast("double") * F.log(F.col("tf").cast("double"))).alias("__clogc"),
    )
    ent = F.log(F.col("__n").cast("double")) - F.col("__clogc") / F.col("__n")
    return per_doc.select(
        F.col(id_col),
        F.col("__n").cast("bigint").alias("n_tokens"),
        F.round(ent, 6).alias("entropy"),
    )


def normalize_text(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    """Append a canonicalized text column: lowercase, strip everything but
    [a-z0-9] and whitespace, collapse whitespace runs, trim.

    This is the standard pre-dedup normalization pass (exact dedup after
    normalization catches case/punctuation-only duplicates that byte-exact
    hashing misses). Pure string expressions — whole-stage codegen, no
    UDFs, and each regex is anchored to ASCII classes so Spark (Java
    regex) and the DuckDB oracle (RE2) agree byte-for-byte.
    """
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return docs.withColumn(out_col, c)


def distinctive_terms(
    docs: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
    min_count: int = 10,
) -> DataFrame:
    """(group, term, n, lift, rank): the top-k most DISTINCTIVE terms per
    group by log-lift ln(p(term|group) / p(term)) — keyness analysis:
    "what vocabulary marks this language/source apart", the standard
    corpus-comparison diagnostic (cf. Dunning 1993's signed root being
    the significance-weighted variant).

    lift = ln((c_gt * C) / (C_g * c_t)) with all four counts exact
    integers, so both engines take one ln of the same double ratio. Terms
    under `min_count` in-group are excluded (rare-term lift is noise).
    Ranking is per-group over a vocabulary-bounded table — the window
    partitions by group, never globally.

    Scale: one corpus-sized (group, term) count; marginals are group- and
    vocabulary-bounded broadcasts.
    """
    gt = (
        docs.select(F.col(group_col).alias("grp"), F.explode(word_tokens(text_col)).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("n"))
    )
    gt = truncate_lineage(gt)  # three marginals below reuse it
    g_tot = gt.groupBy("grp").agg(F.sum("n").alias("__cg"))
    t_tot = gt.groupBy("term").agg(F.sum("n").alias("__ct"))
    c_tot = gt.agg(F.sum("n").alias("__c"))
    scored = (
        gt.filter(F.col("n") >= min_count)
        .join(F.broadcast(g_tot), "grp")
        .join(F.broadcast(t_tot), "term")
        .crossJoin(F.broadcast(c_tot))
        .select(
            "grp",
            "term",
            "n",
            F.round(
                F.log(
                    (F.col("n") * F.col("__c")).cast("double")
                    / (F.col("__cg") * F.col("__ct")).cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("lift"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .withColumnRenamed("grp", group_col)
    )


def vocab_jaccard_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(group_a, group_b, n_a, n_b, n_common, jaccard): pairwise Jaccard
    similarity between each group's VOCABULARY (distinct-token sets) —
    the cross-corpus diagnostic for "how much do these sources share a
    lexicon" (high overlap -> dedup across them matters; low -> they
    contribute distinct coverage).

    One corpus-sized distinct (group, term) projection; the pair join is
    keyed by term with group-bounded fanout (each term joins its own
    groups only), and the counts are exact integers with one division.
    Pairs are emitted once (group_a < group_b).
    """
    gt = (
        docs.select(F.col(group_col).alias("g"), F.explode(word_tokens(text_col)).alias("term"))
        .distinct()
    )
    gt = truncate_lineage(gt)  # sizes + pair join both read it
    sizes = gt.groupBy("g").agg(F.count("*").alias("n_terms"))
    a = gt.select(F.col("g").alias("group_a"), "term")
    b = gt.select(F.col("g").alias("group_b"), "term")
    common = (
        a.join(b, "term")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(
            F.broadcast(sizes.select(F.col("g").alias("group_a"), F.col("n_terms").alias("n_a"))),
            "group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("g").alias("group_b"), F.col("n_terms").alias("n_b"))),
            "group_b",
        )
    )
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return out.select(
        "group_a", "group_b", "n_a", "n_b", "n_common",
        F.round(F.col("n_common").cast("double") / union_n.cast("double"), 6).alias(
            "jaccard"
        ),
    )


def lexical_diversity(
    docs: DataFrame, group_col: str = "source",
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Per group (group, n_tokens, n_types, ttr, hapax_ratio): type-token
    ratio and hapax-legomena share of each corpus slice — the vocabulary-
    richness diagnostics (template-generated text has low TTR; OCR noise
    and code have hapax spikes).

    One explode + (group, term) count, then a per-group rollup: all
    counts are exact integers, the two ratios are single double
    divisions. Both shuffles are keyed groupBys (map-side partial),
    output is group-cardinality sized.
    """
    tf = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(word_tokens(text_col)).alias("term"),
        )
        .groupBy("grp", "term")
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    return (
        tf.groupBy("grp")
        .agg(
            F.sum("__c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("__hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("ttr"),
            F.round(
                F.col("__hapax").cast("double") / F.col("n_types").cast("double"), 6
            ).alias("hapax_ratio"),
        )
    )


def zipf_slope(
    docs: DataFrame, text_col: str = "text", top_n: int = 200
) -> DataFrame:
    """One row (n_terms, slope, intercept): OLS fit of ln(freq) on
    ln(rank) over the corpus's top ``top_n`` terms — Zipf's law says
    slope ~ -1 for natural language; flat slopes flag templated or
    synthetic corpora (same diagnostic family as `graph.powerlaw_alpha`
    for degree distributions).

    The frequency table reduces via keyed groupBy; the top-N cut is a
    distributed TakeOrdered (count desc, term asc — the tiebreak makes
    the boundary reproducible), and only those ``top_n`` rows enter the
    bounded rank window and the closed-form OLS aggregate.
    """
    tf = (
        docs.select(F.explode(word_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("term"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("__c"), F.asc("term"))
    pts = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
    )
    agg = pts.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    return agg.select(
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def shingle_novelty(
    docs: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty): per-doc share of DISTINCT
    word n-gram shingles whose corpus-wide FIRST appearance (min doc id)
    is this document — the novelty signal training-data pipelines use to
    down-weight recombined/templated text that an exact or near-dup pass
    won't catch (every shingle seen before, no doc-level match).

    Two keyed shuffles, both on bounded keys: distinct (doc, shingle),
    then the shingle-grain min — an inverted index, the same shape the
    contamination scan uses. No quadratic doc-pair stage; docs shorter
    than n tokens carry no shingles and drop out (novelty undefined).
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams(word_tokens(text_col), n)).alias("sh"),
    ).distinct()
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


def readability_scores(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllable_groups, flesch):
    Flesch reading-ease with the standard regex proxies — sentences as
    [.!?]+ runs (min 1), syllables as [aeiouy]+ vowel groups — the
    deterministic readability gate corpus pipelines run where a real
    syllabifier would need a dictionary. All three counts are exact
    integers from JVM-side regexp_count (no UDF); the score's two
    divisions follow one written order, 6-dp-rounded. Pure map-side —
    no shuffle at any scale.

    Zero-word docs drop out (the score divides by words).
    """
    words = token_count(text_col)
    sentences = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    )
    syll = F.regexp_count(F.lower(F.col(text_col)), F.lit("[aeiouy]+"))
    counted = docs.select(
        F.col(id_col).alias("doc_id"),
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syll.cast("bigint").alias("n_syllable_groups"),
    ).filter(F.col("n_words") > 0)
    wd = F.col("n_words").cast("double")
    sd = F.col("n_sentences").cast("double")
    yd = F.col("n_syllable_groups").cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * (wd / sd) - F.lit(84.6) * (yd / wd)
    )
    return counted.withColumn("flesch", F.round(flesch, 6))


def feature_hashing(
    docs: DataFrame,
    *,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bucket, n_tokens): the hashing trick — token counts
    folded into a fixed bucket space via md5 (Weinberger et al. 2009),
    the constant-memory featurizer for downstream linear models when the
    vocabulary is unbounded. md5 (not xxhash) so the DuckDB oracle
    reproduces bucket assignment bit-for-bit.

    One explode + one (doc, bucket)-keyed groupBy; output is bounded by
    docs x n_buckets regardless of vocabulary size — that bound (not the
    vocab) is what the trick buys at 100 TB.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(text_col)).alias("__t"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    return (
        tok.select("doc_id", bucket.cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_tokens"))
    )


def compression_ratio(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, ratio): zlib-9 compression ratio
    per document — the redundancy proxy quality gate (Gopher-style):
    templated/repetitive text compresses far below prose, and the gate
    needs no tokenizer or language model. Arrow-batched mapInPandas over
    stdlib zlib (the one corpus op with no JVM-side twin — DEFLATE has
    no Spark SQL function — hence a rows-only registry entry; the
    monotonicity and bound semantics are pinned by crafted tests).
    Empty docs carry NULL ratio rather than dividing by zero.
    """
    import pandas as pd

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            nb = raw.map(len)
            nc = raw.map(lambda b: len(zlib.compress(b, 9)))
            ratio = [
                round(c / b, 6) if b > 0 else None for b, c in zip(nb, nc)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": nb.astype("int64"),
                    "n_compressed": nc.astype("int64"),
                    "ratio": pd.array(ratio, dtype="float64"),
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        comp, "doc_id long, n_bytes long, n_compressed long, ratio double"
    )


def simpson_diversity(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per group (group, n_tokens, simpson): the UNBIASED Simpson
    diversity index 1 - sum(n_t*(n_t-1)) / (N*(N-1)) over the token
    distribution of each corpus slice — the probability two tokens drawn
    WITHOUT replacement differ. The concentration-side complement of
    `token_entropy` / `lexical_diversity`: template spam drives it to 0,
    rich text toward 1, and the finite-sample form keeps the whole
    computation in exact integers until one final division (so the 6-dp
    output has no float-accumulation path at any scale).

    One explode + (group, term) keyed count, then a group rollup —
    the lexical_diversity shuffle shape exactly.
    """
    tf = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(word_tokens(text_col)).alias("term"),
        )
        .groupBy("grp", "term")
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    n = F.sum("__c").cast("bigint")
    s = F.sum(F.col("__c") * (F.col("__c") - F.lit(1))).cast("bigint")
    return tf.groupBy("grp").agg(
        n.alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - s.cast("double")
            # N*(N-1) is 0 for a 1-token group; NULL simpson (matching
            # DuckDB's x/0 -> NULL) instead of an ANSI DIVIDE_BY_ZERO
            / F.nullif(
                n.cast("double") * (n - F.lit(1)).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("simpson"),
    )


def char_class_profile(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group row (grp, n_docs, n_chars, upper_ratio, digit_ratio,
    punct_ratio, space_ratio): character-class composition of a corpus
    slice — the encoding/extraction-health profile (a scraper feed that
    suddenly doubles its digit or punctuation share broke upstream).

    Each class count is length(text) - length(text with the class
    REMOVED) — plain character classes that Java and RE2 regexes treat
    identically — summed as exact integers per group; the four ratios
    are final divisions. Zero shuffles beyond the group aggregate.
    """
    t = F.col(text_col)
    def cnt(pat: str) -> Column:
        return F.length(t) - F.length(F.regexp_replace(t, pat, ""))

    agg = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.sum(cnt("[A-Z]")).cast("bigint").alias("__u"),
        F.sum(cnt("[0-9]")).cast("bigint").alias("__d"),
        F.sum(cnt("[.,;:!?]")).cast("bigint").alias("__p"),
        F.sum(cnt("[ ]")).cast("bigint").alias("__s"),
    )
    # an all-empty-text group has n_chars == 0; NULL ratios (matching
    # DuckDB's x/0 -> NULL) instead of an ANSI DIVIDE_BY_ZERO
    c = F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    return agg.select(
        "grp",
        "n_docs",
        "n_chars",
        F.round(F.col("__u").cast("double") / c, 6).alias("upper_ratio"),
        F.round(F.col("__d").cast("double") / c, 6).alias("digit_ratio"),
        F.round(F.col("__p").cast("double") / c, 6).alias("punct_ratio"),
        F.round(F.col("__s").cast("double") / c, 6).alias("space_ratio"),
    )


def token_length_histogram(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    clamp: int = 15,
) -> DataFrame:
    """Per (group, token length) row (grp, tok_len, n, share): the
    token-length distribution, lengths clamped at `clamp` so the output
    stays bucket-bounded — the tokenizer-sanity profile (a shifted
    length histogram means the segmenter or the source changed).
    Exact counts; shares via a per-group window over bucket rows.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(word_tokens(text_col)).alias("__tok"),
    ).select(
        "grp",
        F.least(F.length("__tok"), F.lit(clamp)).cast("int").alias("tok_len"),
    )
    counts = toks.groupBy("grp", "tok_len").agg(
        F.count("*").cast("bigint").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("grp"))
    return counts.select(
        "grp",
        "tok_len",
        "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6).alias(
            "share"
        ),
    )


def prefix_dup_rate(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    prefix_chars: int = 64,
) -> DataFrame:
    """Per-group row (grp, n_docs, n_distinct_prefixes, prefix_dup_rate):
    share of documents whose leading `prefix_chars` characters are not
    unique within the group — the cheap partial-duplication screen that
    catches templated boilerplate heads before any shingling runs.
    Exact distinct counts over md5(prefix) fingerprints; one division.
    """
    fp = docs.select(
        F.col(group_col).alias("grp"),
        F.md5(F.substring(F.col(text_col), 1, prefix_chars)).alias("__f"),
    )
    agg = fp.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("__f").cast("bigint").alias("n_distinct_prefixes"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "n_distinct_prefixes",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_prefixes").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("prefix_dup_rate"),
    )


def multibyte_ratio(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group row (grp, n_chars, n_bytes, n_multibyte_bytes,
    bytes_per_char): UTF-8 byte-to-character expansion of each corpus
    slice — the encoding profile that sizes shuffle width and catches
    mojibake (an ASCII-language slice whose ratio drifts above ~1
    double-encoded somewhere). Exact integer char and octet sums, one
    final division.
    """
    t = F.col(text_col)
    agg = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.sum(F.octet_length(t)).cast("bigint").alias("n_bytes"),
    )
    return agg.select(
        "grp",
        "n_chars",
        "n_bytes",
        (F.col("n_bytes") - F.col("n_chars")).alias("n_multibyte_bytes"),
        F.round(
            # empty-text group -> NULL ratio (DuckDB x/0 semantics), not
            # an ANSI DIVIDE_BY_ZERO
            F.col("n_bytes").cast("double")
            / F.nullif(F.col("n_chars").cast("double"), F.lit(0.0)),
            6,
        ).alias("bytes_per_char"),
    )


def immediate_repeat_rate(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group row (grp, n_docs, total_bigrams, n_repeats,
    repeat_rate): share of adjacent token pairs that are the SAME token
    — the stutter/generation-loop signal (template spam and degenerate
    LM output repeat tokens immediately; natural text almost never
    does). Token-level, so no regex backreferences are needed (RE2 has
    none) — both engines compare xs[i] to xs[i+1] over an index range;
    exact integer counts, one division. Zero shuffles beyond the group
    aggregate.
    """
    # materialize the token array ONCE per row — a shared word_tokens
    # expression referenced from n_big and from inside the filter
    # lambda re-runs the regex split per reference (measured 6.3 s ->
    # ~1 s at sf0.1); the adjacent-pair compare is a zip_with of two
    # slices, not per-index element_at probes
    t = F.col("__toks")
    n_big = F.size(t) - F.lit(1)
    pairs_eq = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: a == b,
    )
    n_rep = F.size(F.filter(pairs_eq, lambda x: x))
    per = (
        docs.select(
            F.col(group_col).alias("grp"),
            word_tokens(text_col).alias("__toks"),
        )
        .select(
            "grp",
            n_big.alias("__nb"),
            n_rep.alias("__nr"),
        )
        .filter(F.col("__nb") >= 1)
    )
    agg = per.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__nb").cast("bigint").alias("total_bigrams"),
        F.sum("__nr").cast("bigint").alias("n_repeats"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "total_bigrams",
        "n_repeats",
        F.round(
            F.col("n_repeats").cast("double")
            / F.col("total_bigrams").cast("double"),
            6,
        ).alias("repeat_rate"),
    )


def gopher_quality_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: "tuple[str, ...]" = (),
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    stop_words: "tuple[str, ...]" = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
    min_stop_words: int = 2,
) -> DataFrame:
    """Per-doc Gopher quality-rule evaluation (Rae et al. 2021, the
    published repetition-free subset every open corpus pipeline reuses:
    Gopher -> MassiveText -> Dolma/RefinedWeb): word-count bounds, mean
    word length bounds, symbol-to-word ratio ('#' and ellipsis), share
    of words containing an alphabetic character, and the required
    stop-word count — plus the conjunction gate `passes`. `keep_cols`
    ride through unchanged (a pure projection, so the gate drops into a
    STREAMING pipeline as-is — no join needed to retain grouping keys).

    Output row: (id, keep_cols..., n_words, mean_word_len, symbol_word_ratio,
    alpha_word_ratio, n_stop_words, ok_word_count, ok_mean_word_len,
    ok_symbol_ratio, ok_alpha_ratio, ok_stop_words, passes).

    Every measure is exact-integer counting over the shared whitespace
    tokenizer and a final bounded division, so the whole rule set is
    SQL-expressible (hash-matched oracle) and stays in codegen — one
    narrow projection, no shuffle at all: the gate composes with any
    downstream groupBy, which is what a 100 TB curation pass wants
    (filter before shuffle). Rule CONSTANTS are plan literals.
    """
    t = F.col(text_col)
    toks = word_tokens(text_col)
    nw = F.size(toks).cast("long")
    nd = nw.cast("double")
    char_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_wl = char_sum.cast("double") / F.nullif(nd, F.lit(0.0))
    # symbols: '#' occurrences + '...'/'…' runs, counted in char space
    hashes = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    # each '…' is 1 char; each literal '...' is 3 — count occurrences
    ell_u = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    ell_a = (
        F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    ) / F.lit(3)
    sym_ratio = (hashes + ell_u + ell_a).cast("double") / F.nullif(
        nd, F.lit(0.0)
    )
    alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    alpha_ratio = alpha_words.cast("double") / F.nullif(nd, F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in stop_words])
    n_stop = F.size(
        F.filter(stops, lambda s: F.array_contains(toks, s))
    ).cast("long")
    out = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        nw.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        n_stop.alias("n_stop_words"),
        ((nw >= min_words) & (nw <= max_words)).alias("ok_word_count"),
        (
            (mean_wl >= F.lit(float(min_mean_word_len)))
            & (mean_wl <= F.lit(float(max_mean_word_len)))
        ).alias("ok_mean_word_len"),
        (sym_ratio <= F.lit(float(max_symbol_word_ratio))).alias(
            "ok_symbol_ratio"
        ),
        (alpha_ratio >= F.lit(float(min_alpha_word_ratio))).alias(
            "ok_alpha_ratio"
        ),
        (n_stop >= F.lit(int(min_stop_words))).alias("ok_stop_words"),
    )
    return out.withColumn(
        "passes",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_symbol_ratio")
        & F.col("ok_alpha_ratio")
        & F.col("ok_stop_words"),
    )


# classic double-encoded-UTF-8 artifact shapes, shared verbatim with the
# oracle side: UTF-8 bytes re-read as Latin-1/cp1252 produce 'Ã©'-style
# pairs ('Ã' + a continuation-range char), the 'â€™' smart-punctuation
# family, 'Â'-prefixed NBSP/guillemets, and U+FFFD (a decode already
# failed upstream). \x{..} codepoint escapes parse identically in Java
# regex (Spark) and RE2 (DuckDB).
MOJIBAKE_PATTERNS: "tuple[str, ...]" = (
    # Ã + Latin-1 continuation (é->Ã©, ü->Ã¼, ...). cp1252 misdecodes of
    # bytes 0x80-0x9f land outside this range (€, ™, œ...), so the 'â€'
    # smart-punctuation family below matches on its 2-char prefix alone —
    # the sequence 'â€' does not occur in legitimate text
    "Ã[\\x{0080}-\\x{00ff}]",
    "â€",
    "Â[\\x{00a0}\\x{00ab}\\x{00bb}]",
    "\\x{fffd}",
)


def mojibake_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Per-doc (id, keep_cols..., n_artifacts, is_clean): count of
    double-encoded UTF-8 artifact sequences — the encoding-damage gate
    every open corpus pipeline runs (C4/Dolma drop or fix mojibake
    documents; artifact counts also locate the upstream charset bug).
    One ``regexp_count`` per pattern family, summed — pure codegen
    projection (keep_cols ride through, the gopher_quality_flags
    shape), and each pattern needs a non-ASCII char so clean ASCII
    text can never false-positive.
    """
    n = sum(
        (F.regexp_count(F.col(text_col), F.lit(p)) for p in MOJIBAKE_PATTERNS),
        F.lit(0),
    ).cast("bigint")
    return docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        n.alias("n_artifacts"),
        (n == 0).alias("is_clean"),
    )


# invisible/format codepoints that survive naive cleaning and poison
# tokenizers and dedup keys: zero-widths, BOM, soft hyphen, directional
# marks. NBSP is handled separately (it becomes a real space, not '').
INVISIBLE_CHARS_PATTERN = (
    "[\\x{200b}\\x{200c}\\x{200d}\\x{feff}\\x{00ad}\\x{200e}\\x{200f}]"
)


def strip_invisible_chars(text: "Column | str") -> Column:
    """Text with zero-width/format codepoints REMOVED and NBSP
    converted to a plain space — the normalization that stops
    'foo\\u200bbar' splitting dedup keys and token counts from
    'foobar' (zero-widths are the classic cause of same-looking
    near-misses in exact dedup). Two codegen regex passes; no UDF.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, INVISIBLE_CHARS_PATTERN, "")
    return F.regexp_replace(c, "\\x{00a0}", " ")


def html_to_text(html: "Column | str") -> Column:
    """Plain text extracted from an HTML column — the step between a
    WARC response body and every text operator in this package (the
    reference toolchain gets it from resiliparse on Databricks;
    reference resources/databricks.py:76-78 provisions the crawl
    stack). Order matters and is fixed: script/style/head SUBTREES go
    first (their text is code, not content), then comments, then all
    remaining tags become spaces, then the five core entities decode,
    then whitespace collapses.

    Every pattern sits in the regex subset Java (Spark) and RE2
    (DuckDB) treat identically — (?is) flags, lazy quantifiers, no
    backreferences/lookaround — so extraction output is
    oracle-checkable; pure codegen string ops, zero shuffles.
    """
    c = F.col(html) if isinstance(html, str) else html
    # tag names are word-bounded via (\s[^>]*)?> so <header>/<headline>
    # (CONTENT tags) never match the head-subtree patterns
    t = F.regexp_replace(c, r"(?is)<script(\s[^>]*)?>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style(\s[^>]*)?>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?is)<head(\s[^>]*)?>.*?</head>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    # truncated crawl bodies routinely cut mid-subtree: an UNCLOSED
    # script/style/head/comment would otherwise leak its source (or
    # title/meta text) as "text" — only the opening tag would be
    # stripped by the generic pass
    t = F.regexp_replace(t, r"(?is)<(script|style|head)(\s[^>]*)?>.*$", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*$", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    # &amp; decodes LAST: anything earlier would turn '&amp;lt;' into
    # '&lt;' and then double-decode it to '<'
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def nb_langid_confusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: float = 0.5,
) -> DataFrame:
    """(true_lang, pred_lang, n_docs): confusion matrix of an add-k
    naive-Bayes unigram language classifier trained on the labeled
    corpus itself — the fastText-style lang-ID eval loop of a curation
    pipeline (language_id is the heuristic arm; this is the supervised
    counting arm, deterministic so the oracle arbitrates the MODEL).

    Per doc and candidate language: score = log2 prior (doc share) +
    sum over tokens of log2((c(tok,lang)+k) / (c(lang)+k*V)); predicted
    language = argmax, ties to the lexicographically first language.

    Engine determinism: the per-(doc, lang) float sum runs as an
    ORDERED 0.0-init left fold over tokens sorted by token string
    (F.aggregate == LIST_REDUCE bit-for-bit), so the argmax compares
    identical doubles in both engines. Scale shape: scoring fan-out is
    tokens x |languages| (a small constant); model tables are
    vocab-bounded and broadcast when small; the 1-row V and doc-total
    aggregates cross-broadcast.
    """
    toks = docs.select(
        F.col(id_col), F.col(lang_col).alias("__true"),
        F.explode(word_tokens(text_col)).alias("tok"),
    )
    ctl = toks.groupBy(F.col("__true").alias("m_lang"), "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    cl = toks.groupBy(F.col("__true").alias("m_lang")).agg(
        F.count("*").cast("bigint").alias("cl")
    )
    vsz = toks.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    priors = docs.groupBy(F.col(lang_col).alias("m_lang")).agg(
        F.count("*").cast("bigint").alias("pd")
    )
    nd = docs.agg(F.count("*").cast("bigint").alias("nd"))
    langs = docs.select(F.col(lang_col).alias("m_lang")).distinct()
    sc = (
        toks.crossJoin(F.broadcast(langs))
        .join(ctl, ["m_lang", "tok"], "left")
        .join(F.broadcast(cl), "m_lang")
        .crossJoin(F.broadcast(vsz))
        .select(
            id_col,
            "__true",
            "m_lang",
            "tok",
            F.log2(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(k))
                / (F.col("cl") + F.lit(k) * F.col("v"))
            ).alias("s"),
        )
    )
    per = sc.groupBy(id_col, "__true", "m_lang").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("tok"), F.col("s")))),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("fold")
    )
    tot = (
        per.join(F.broadcast(priors), "m_lang")
        .crossJoin(F.broadcast(nd))
        .select(
            id_col,
            "__true",
            "m_lang",
            (
                F.col("fold")
                + F.log2(F.col("pd").cast("double") / F.col("nd"))
            ).alias("score"),
        )
    )
    pick = tot.groupBy(id_col, "__true").agg(
        F.min_by(
            F.col("m_lang"),
            F.struct((-F.col("score")).alias("a"), F.col("m_lang").alias("b")),
        ).alias("pred_lang")
    )
    return pick.groupBy(
        F.col("__true").alias("true_lang"), "pred_lang"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
