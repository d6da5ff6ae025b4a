"""Text-analysis operators for training-data pipelines (extension).

All built on pyspark.sql.functions string/regex/array expressions —
JVM-side, codegen, zero Python in the row path — and each designed so
an identical formulation exists in ANSI/DuckDB SQL for the oracle
gate (same regexes, same wordlists, same tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..engine import (
    _norm_base,
    cache_scope,
    fanout_repartition,
    materialize,
    normalize_text,
)


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: str | Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


#: BPE-ish subword proxy: runs of letters, runs of digits, or single
#: non-space symbols — a deterministic stand-in for a real tokenizer's
#: piece count (tokenizer libs aren't in this container).
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpeish_token_count(col: str | Column) -> Column:
    """Count of BPE-ish pieces (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(normalize_text(col), F.lit(BPE_ISH_PATTERN), 0))


#: tiny deterministic stopword lists per language — the wordlists ARE
#: the spec (they must be identical in the SQL oracle).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "de", "que", "los", "es"],
    "fr": ["le", "la", "les", "des", "est", "une"],
}


def stopword_count(col: str | Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def language_id(col: str | Column) -> Column:
    """Rule-based language guess: the language whose stopword list
    matches the most tokens; 'unknown' when nothing matches. Ties
    break in fixed order en > de > es > fr (a deterministic spec the
    oracle replicates with the same CASE chain).
    """
    scores = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    s_en, s_de, s_es, s_fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    best = F.greatest(s_en, s_de, s_es, s_fr)
    return (
        F.when(best == 0, "unknown")
        .when(s_en == best, "en")
        .when(s_de == best, "de")
        .when(s_es == best, "es")
        .otherwise("fr")
    )


def punct_ratio(col: str | Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, F.round(punct / n, 4)).otherwise(F.lit(0.0))


def quality_score(col: str | Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword
    presence + low punctuation. Deterministic, SQL-replicable:

        0.4 * (50 <= n_chars <= 10000)
      + 0.3 * min(en_stopwords / tokens, 0.3) / 0.3
      + 0.3 * (punct_ratio <= 0.2)
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    tok = token_count(c)
    stop_ratio = F.when(tok > 0, stopword_count(c, "en") / tok).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 50) & (n <= 10000), 1.0).otherwise(0.0)
    stop_part = F.least(stop_ratio, F.lit(0.3)) / 0.3
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    return F.round(0.4 * len_ok + 0.3 * stop_part + 0.3 * punct_ok, 4)


#: cleaning regexes — the portable common subset of Java regex (Spark)
#: and RE2 (DuckDB): no backreferences, no lookaround, explicit classes.
#: These ARE the spec; the SQL oracle embeds the identical patterns.
HTML_TAG_PATTERN = r"<[^>]+>"
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"


def url_count(col: str | Column) -> Column:
    """Number of http(s) URLs in the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(URL_PATTERN), 0))


def email_count(col: str | Column) -> Column:
    """Number of email addresses in the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), 0))


def clean_text(col: str | Column) -> Column:
    """Web-corpus cleaning pass: strip tags, drop URLs, redact emails
    (PII), collapse the resulting whitespace. Order matters and is part
    of the spec: tags first (their text may contain hrefs), then URLs,
    then emails, then whitespace normalization.
    """
    c = F.col(col) if isinstance(col, str) else col
    no_tags = F.regexp_replace(c, HTML_TAG_PATTERN, " ")
    no_urls = F.regexp_replace(no_tags, URL_PATTERN, " ")
    redacted = F.regexp_replace(no_urls, EMAIL_PATTERN, "<EMAIL>")
    return F.trim(F.regexp_replace(redacted, r"\s+", " "))


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 (not xxhash64) so the DuckDB oracle can compute the identical
    value; collision-safe enough for dedup bookkeeping at corpus scale.
    """
    return F.md5(normalize_text(col))


def winnow_table(df, id_col: str, text_col: str, k: int = 5, window: int = 4):
    """(id, fingerprints) winnowing table for a corpus.

    Materializes the k-gram hash array behind an exchange before the
    window-minima pass — inlined, the hash array expression would be
    re-evaluated once per window position (O(n^2) per document).

    Winnowing needs only an ORDERED hash family; md5 (hex string) is
    byte-identical in any engine with md5, which makes the operator's
    output externally verifiable.
    """
    norm = _norm_base(df, id_col, text_col)
    grams = norm.select(
        "__id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("__txt") - F.lit(k - 1), F.lit(1))),
            lambda i: F.md5(F.substr(F.col("__txt"), i, F.lit(k))),
        ).alias("__hg"),
    ).transform(lambda d: fanout_repartition(d, "__id"))
    n_windows = F.greatest(F.size("__hg") - F.lit(window - 1), F.lit(1))
    return grams.select(
        F.col("__id").alias(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(F.col("__hg"), i, window)),
            )
        ).alias("fingerprints"),
    )


def top_tokens(df, text_col: str, k: int = 50):
    """Corpus vocabulary head: the ``k`` most frequent whitespace
    tokens of the normalized text, with counts. (token, count) ties
    break lexicographically so the result is a deterministic spec.

    Plan shape for 100 TB: explode -> hash-aggregate with map-side
    partial counts (one shuffle keyed by token; the hot-token skew is
    exactly what partial aggregation absorbs) -> TakeOrderedAndProject
    for the top-k — no global sort of the vocabulary.
    """
    tok = df.select(F.explode(tokens(text_col)).alias("token")).filter(
        F.length("token") > 0
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(k)


def length_histogram(df, text_col: str, bucket_width: int = 100):
    """Document-length histogram: count of docs per ``bucket_width``-char
    bucket of raw text length. The one-number-per-bucket shape that
    drives corpus curation cutoffs; single hash aggregation.
    """
    c = F.col(text_col)
    bucket = (F.floor(F.length(c) / bucket_width) * bucket_width).cast("long")
    return (
        df.select(bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/diversity signals per document:

      distinct_token_ratio  |types| / |tokens|
      mean_token_len        mean characters per token
      top_bigram_frac       occurrences of the most frequent word
                            bigram / total bigrams

    The bigram mode is computed by explode -> two-level aggregation
    (doc+bigram counts, then per-doc max/sum) — one shuffle on the doc
    id, partial-aggregated map-side, never a per-row O(n^2) in an
    interpreted HOF. Scalar signals ride the same materialized token
    array. All ratios ROUND(4) so the SQL oracle hashes identically.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    ).transform(lambda d: fanout_repartition(d, "__id"))

    toks = F.col("__toks")
    scalars = base.select(
        "__id",
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias(
            "distinct_token_ratio"
        ),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.size(toks),
            4,
        ).alias("mean_token_len"),
    )

    from .contamination import word_ngrams

    bigrams = base.select(
        "__id", F.explode(word_ngrams(toks, 2)).alias("__bg")
    )
    top = (
        bigrams.groupBy("__id", "__bg")
        .agg(F.count("*").alias("__c"))
        .groupBy("__id")
        .agg(
            F.round(F.max("__c") / F.sum("__c"), 4).alias("top_bigram_frac"),
        )
    )
    return (
        scalars.join(top, "__id")
        .select(F.col("__id").alias(id_col), "distinct_token_ratio", "mean_token_len", "top_bigram_frac")
    )


def length_outliers(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    z_cutoff: float = 2.0,
) -> DataFrame:
    """Documents whose token count is a per-source statistical outlier
    (|z| > cutoff against the source's own mean/σ) — the standard
    length-anomaly screen in curation pipelines (truncated or
    concatenated documents show up as per-source length outliers even
    when globally unremarkable).

    Plan: one groupBy computes per-source mean and population σ (a
    handful of rows), broadcast back onto the corpus; the z filter is
    then map-side. Sources with σ = 0 have no outliers by definition.
    """
    n = token_count(text_col)
    base = docs.select(F.col(id_col), F.col(group_col), n.alias("n_tok"))
    stats = base.groupBy(group_col).agg(
        F.avg("n_tok").alias("__mu"),
        F.stddev_pop("n_tok").alias("__sigma"),
    )
    return (
        base.join(F.broadcast(stats), group_col)
        .filter(F.col("__sigma") > 0)
        .withColumn("z", (F.col("n_tok") - F.col("__mu")) / F.col("__sigma"))
        .filter(F.abs("z") > z_cutoff)
        .select(
            id_col,
            group_col,
            F.col("n_tok").cast("long").alias("n_tok"),
            F.round("z", 4).alias("z_score"),
        )
    )


def char_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-level quality signals per document: Shannon entropy
    of the character distribution (low = repetitive/degenerate text,
    high = random noise — both standard drop signals in pre-training
    curation), plus digit and whitespace ratios.

    Plan: one explode to characters, per-(doc, char) counts, and a
    window total per doc (partition-local after the count shuffle, no
    join); the ratios are map-side regex counts. Two exchanges total,
    both map-side combined.
    """
    chars = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = chars.groupBy(id_col, "ch").agg(F.count("*").alias("__c"))
    w = Window.partitionBy(id_col)
    p = F.col("__c") / F.sum("__c").over(w)
    ent = (
        hist.withColumn("__term", -p * F.log(p))
        .groupBy(id_col)
        .agg(F.round(F.sum("__term"), 4).alias("char_entropy"))
    )
    n = F.length(F.col(text_col)).cast("double")
    ratios = docs.select(
        F.col(id_col),
        F.when(
            n > 0,
            F.round(
                (n - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))) / n,
                4,
            ),
        ).alias("digit_ratio"),
        F.when(
            n > 0,
            F.round(
                (n - F.length(F.regexp_replace(F.col(text_col), r"\s", ""))) / n,
                4,
            ),
        ).alias("space_ratio"),
    )
    return ratios.join(ent, id_col, "left")


def unigram_cross_entropy(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> "DataFrame":
    """Per-document cross-entropy (bits/token) under the corpus's own
    unigram language model — the perplexity-style quality signal of
    the CCNet / Wenzek et al. 2020 filtering recipe, with the corpus
    itself as the LM: documents whose token distribution diverges from
    the corpus (gibberish, boilerplate lists, wrong language) score
    high; middle-of-distribution prose scores low. Emits
    ``(id, n_tokens, cross_entropy)`` where cross_entropy =
    -sum(c_w * log2(tf_w / N)) / n_tokens over the doc's terms.

    Scale shape (100 TB): token instances reduce to per-(doc, term)
    counts BEFORE any join, so the join traffic is |doc x distinct
    term| rows, not token instances; the vocab table is one further
    partial-aggregated groupBy of those counts (linear in vocab, not
    stream); hot terms (stopwords are the hottest keys in any corpus)
    hit an AQE-splittable equi-join, never a window; the corpus total
    is a broadcast one-row crossJoin. Blank/NULL docs are excluded —
    they have no tokens and no entropy (repo-wide NULL-payload
    convention).
    """
    # narrow (id, tokens) exchange before the explode so the token
    # fan-out + per-(doc, term) partial counts run at shuffle
    # parallelism, not inside the scan stage (one task on a
    # single-row-group parquet — guide §2.5 repartition-after-read)
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__ts"))
        .transform(lambda d: fanout_repartition(d, "__id"))
        .select("__id", F.explode("__ts").alias("__w"))
    )
    dw = toks.groupBy("__id", "__w").agg(F.count(F.lit(1)).alias("__c"))
    vocab = dw.groupBy("__w").agg(F.sum("__c").alias("__tf"))
    total = vocab.agg(F.sum("__tf").alias("__n"))
    return (
        dw.join(vocab, "__w")
        .crossJoin(F.broadcast(total))
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            # ROUND(x, r) + 0.0 normalizes IEEE -0.0 (a one-token
            # corpus has p=1, log2=0, and the negated sum is -0.0)
            (
                F.round(
                    -F.sum(F.col("__c") * F.log2(F.col("__tf") / F.col("__n")))
                    / F.sum("__c"),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("cross_entropy"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "cross_entropy")
    )


def bigram_cross_entropy(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> "DataFrame":
    """Per-document conditional-bigram cross-entropy (bits/bigram)
    under the corpus's own bigram LM — the order-sensitive companion
    of ``unigram_cross_entropy``: shuffled or templated word salad can
    match the corpus unigram distribution exactly while its bigrams
    are improbable, and vice versa for boilerplate. For each bigram
    instance, p(w2|w1) = count(w1 w2) / count(w1 ·) where the context
    count is over non-final positions; CE = -avg log2 p over the
    doc's bigram instances. Emits ``(id, n_bigrams, cross_entropy)``;
    docs with fewer than two tokens have no bigrams and no row.

    Scale shape: bigram instances reduce to per-(doc, bigram) counts
    before any join; the corpus bigram and context tables are further
    partial aggregates of those counts; the two equi-joins are on
    bigram/context keys where hot keys (function-word pairs) are
    AQE-splittable. No windows, no driver state.
    """
    # narrow (id, tokens) exchange before the position explode — same
    # rationale as unigram_cross_entropy (guide §2.5)
    words = (
        df.filter(F.col(text_col).isNotNull())
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("__id"),
            F.split(normalize_text(text_col), " ").alias("__w"),
        )
        .filter(F.size("__w") >= 2)
        .transform(lambda d: fanout_repartition(d, "__id"))
    )
    big = words.select(
        "__id",
        "__w",
        F.explode(F.sequence(F.lit(1), F.size("__w") - 1)).alias("__i"),
    ).select(
        "__id",
        F.element_at("__w", F.col("__i")).alias("__w1"),
        F.element_at("__w", F.col("__i") + 1).alias("__w2"),
    )
    dw = big.groupBy("__id", "__w1", "__w2").agg(F.count(F.lit(1)).alias("__c"))
    cb = dw.groupBy("__w1", "__w2").agg(F.sum("__c").alias("__nb"))
    c1 = cb.groupBy("__w1").agg(F.sum("__nb").alias("__n1"))
    return (
        dw.join(cb, ["__w1", "__w2"])
        .join(c1, "__w1")
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("long").alias("n_bigrams"),
            (
                F.round(
                    -F.sum(F.col("__c") * F.log2(F.col("__nb") / F.col("__n1")))
                    / F.sum("__c"),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("cross_entropy"),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "cross_entropy")
    )


def blocklist_stats(
    df,
    text_col: str,
    group_col: str,
    blocklist: list[str],
) -> "DataFrame":
    """C4-style blocklist filtering audit: per group, how many docs
    contain >= 1 blocklisted token and how many blocked-token hits
    occur in total (the keep/drop accounting a curation run reports
    before committing a filter).

    Token-level matching (not substring): "class" must not trip a
    blocklist entry "ass". One map-side pass — tokenize once, count
    membership with a literal-array filter, aggregate; zero joins,
    zero shuffles beyond the final group agg, blocklist lives in the
    codegen'd plan (fine for word lists; a million-entry blocklist
    would broadcast-join a lookup table instead).
    """
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*blocklist)))
    per_doc = df.select(
        F.col(group_col),
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(hits)
        .alias("__hits"),
    )
    return per_doc.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("__hits") > 0).cast("long")).cast("long").alias("n_blocked_docs"),
        F.sum("__hits").cast("long").alias("n_hits"),
    )


def boilerplate_ngram_stats(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 6,
    min_pct: int = 20,
):
    """Per-document share of word n-grams that are SOURCE-LEVEL
    BOILERPLATE — grams occurring in at least ``min_pct`` percent of
    the source's documents (nav bars, license footers, crawl
    banners). The C4/RefinedWeb-style signal for "this document is
    mostly template": emits ``(id_col, n_grams, n_boiler,
    boiler_ratio)`` for every non-NULL-text document.

    Shape (O(corpus tokens), never doc x doc): one distinct-gram
    stream with md5 16-byte keys (operators/contamination.py's gram
    table idiom), document frequency per (source, gram) via a window
    over the gram shuffle (grams are distinct per doc, so count(*)
    IS the doc frequency — no self-join), per-source doc totals as a
    broadcast-sized side (|sources| rows), then one per-document
    re-aggregation. Two gram-stream shuffles total; the boilerplate
    test is the integer comparison ``n_with * 100 >= min_pct *
    n_src_docs`` so no float threshold can split engines.

    NULL sources form their own group: the doc-total join is
    null-safe (``eqNullSafe``) because a plain equi-join would
    silently DROP the NULL-source docs the window happily counted
    (the repo's NULL-group join-vs-window lesson).
    """
    from .contamination import word_ngrams

    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(source_col).alias("__src"),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    ).transform(lambda d: fanout_repartition(d, "__id"))
    grams = base.select(
        "__id",
        "__src",
        F.explode(
            F.array_distinct(word_ngrams(F.col("__toks"), n))
        ).alias("__gram"),
    ).select("__id", "__src", F.md5("__gram").alias("__g"))
    # the dim side shares lineage with the gram stream, so the join
    # key must be RENAMED — a same-name eqNullSafe resolves both
    # references to one attribute (trivially-true predicate). It
    # counts from the RAW projection, not ``base``: reusing base
    # would re-run the tokenize + repartition pipeline just to count
    # docs per source (the scan prunes to two columns instead).
    src_docs = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.col(source_col).alias("__src_d"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n_src"))
    )
    # doc frequency per (source, gram) as a partial-aggregated groupBy
    # joined back — NOT a window over (source, gram) partitions: a
    # boilerplate gram is BY DEFINITION a hot key (it appears in a
    # large share of its source's docs), a window partition cannot be
    # AQE-skew-split and has no map-side combine, so at web scale the
    # hottest template gram becomes an unsplittable straggler. The
    # join keys are null-safe on source (NULL sources form their own
    # group — the repo's NULL-group join-vs-window lesson).
    gram_df = grams.groupBy(
        F.col("__src").alias("__src_g"), F.col("__g").alias("__g_g")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n_with"))
    flagged = (
        grams.join(
            gram_df,
            F.col("__src").eqNullSafe(F.col("__src_g"))
            & (F.col("__g") == F.col("__g_g")),
        )
        .join(
            F.broadcast(src_docs),
            F.col("__src").eqNullSafe(F.col("__src_d")),
        )
        .select(
            "__id",
            (F.col("__n_with") * 100 >= F.lit(min_pct) * F.col("__n_src"))
            .cast("long")
            .alias("__boiler"),
        )
    )
    return flagged.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("__boiler").cast("long").alias("n_boiler"),
    ).select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_boiler",
        (
            F.round(F.col("n_boiler") * F.lit(1.0) / F.col("n_grams"), 4)
            + F.lit(0.0)
        ).alias("boiler_ratio"),
    )


def winnow_fp_exploded(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> "DataFrame":
    """DISTINCT ``(__id, __fp)`` winnowing fingerprints via the
    corpus-scale explode path: one row per character position, hashed
    in whole-stage codegen, fanned out to its <= ``window`` member
    windows, then a partial-aggregated min per (doc, window). Same
    spec as ``winnow_table``'s per-doc array form (the property test
    pins them equal row-for-row) but with NO interpreted HOF lambdas
    in the corpus path — exploding the array form re-evaluates its
    O(len·window) window-minima chain pathologically (measured
    minutes vs seconds at sf0.01).
    """
    norm = _norm_base(df, id_col, text_col)
    n_grams = F.greatest(F.length("__txt") - F.lit(k - 1), F.lit(1))
    hashed = norm.select(
        "__id",
        "__txt",
        F.explode(F.sequence(F.lit(1), n_grams)).alias("__i"),
    ).select(
        "__id",
        # n_windows = max(n_grams - window + 1, 1)
        F.greatest(
            F.greatest(F.length("__txt") - F.lit(k - 1), F.lit(1))
            - F.lit(window - 1),
            F.lit(1),
        ).alias("__nw"),
        "__i",
        F.md5(F.substr(F.col("__txt"), F.col("__i"), F.lit(k))).alias("__h"),
    )
    # position i belongs to windows [max(1, i-window+1), min(i, n_windows)]
    wins = hashed.select(
        "__id",
        "__h",
        F.explode(
            F.sequence(
                F.greatest(F.col("__i") - F.lit(window - 1), F.lit(1)),
                F.least(F.col("__i"), F.col("__nw")),
            )
        ).alias("__j"),
    )
    return (
        wins.groupBy("__id", "__j")
        .agg(F.min("__h").alias("__fp"))
        .select("__id", "__fp")
        .distinct()
    )


def winnow_overlap_pairs(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
) -> "DataFrame":
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — MOSS-style local plagiarism/quotation detection: winnowing
    guarantees any shared substring of length >= k + window - 1
    contributes a common fingerprint, so partial copies surface even
    when whole-document similarity is tiny (the case whole-doc MinHash
    and even n-gram Jaccard under-score). Emits
    ``(id_a, id_b, n_shared)`` with id_a < id_b.

    Fingerprints with document frequency > ``max_df`` are DROPPED
    before pairing — the standard non-discriminative-boilerplate cut,
    and simultaneously the skew guard: a fingerprint shared by d docs
    fans out d^2/2 pairs through the equi-join, so the cap bounds
    per-key fan-out at max_df^2 no matter how viral a boilerplate
    snippet is. df==1 fingerprints are cut too (they can pair with
    nothing), which shrinks the join input to exactly the
    discriminative shared mass.

    Scale shape — the position-dense-hashing rule: winnowing hashes
    EVERY character position, so the corpus path must explode
    positions and hash in whole-stage codegen, never build per-doc
    hash arrays with interpreted HOF lambdas (``winnow_table``'s
    array form is fine for the per-doc fingerprint-count query, but
    exploding its array re-evaluates the O(len·window) window-minima
    lambda chain pathologically — measured minutes vs seconds at
    sf0.01). Here: one explode to (doc, position, gram-hash) rows,
    a second bounded explode fanning each position to its ≤ window
    member windows, then a partial-aggregated min per (doc, window)
    and a distinct — all codegen, all map-side combinable. The
    resulting (doc, fp) table is held in an ``engine.cache_scope``
    (it feeds the df filter and both join sides) and released once
    the result materializes. The df-capped self-join's fan-out is
    provably bounded (max_df^2 per key). The md5 fingerprints are
    the cross-engine family the registered oracle replays.
    """
    from pyspark import StorageLevel

    with cache_scope() as hold:
        fp = hold(
            winnow_fp_exploded(df, id_col, text_col, k=k, window=window),
            StorageLevel.MEMORY_AND_DISK,
        )
        keep = (
            fp.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
            .select("__fp")
        )
        rare = fp.join(keep, "__fp")
        a, b = rare.alias("a"), rare.alias("b")
        result = (
            a.join(
                b,
                (F.col("a.__fp") == F.col("b.__fp"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .groupBy(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        # kept as a checkpoint (tests/test_engine.py allow-list): fp ends
        # in aggregates the _norm_base partitioning already satisfies, so
        # a lazy plan has no exchange to reuse and runs the position
        # explode + md5 once per consumer (the df count, the probe, the
        # broadcast side) — cold median 1.40x at sf0.01, 2.27x on the
        # prose lake, 4 cores
        return materialize(result)


def next_token_examples(
    df: DataFrame, id_col: str, text_col: str, ctx_len: int = 2
) -> DataFrame:
    """Next-token training-example construction: for each document,
    emit the (context, target) pairs an autoregressive LM trains on —
    context = the ``ctx_len`` preceding whitespace tokens (space-
    joined), target = the next token — then collapse to per-doc
    counts plus an ORDER-INSENSITIVE integer checksum (sum of 8-hex
    md5 folds of ``context '>' target``), so the oracle hash-gates
    the exact example set without materializing it in the result.

    Map-side only until the final per-doc aggregate: the token array
    never leaves its row (examples come from element_at over a
    sequence), so the shuffle carries one row per (doc, example) into
    a partial-aggregable groupBy — the 100 TB shape for corpus-scale
    example construction.
    """
    idc = F.col(id_col)
    arr = tokens(text_col)
    n = F.size(arr)
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(idc.alias("__id"), arr.alias("__t"), n.alias("__n"))
        .filter(F.col("__n") > ctx_len)
    )
    ctx = F.concat_ws(
        " ", *[F.element_at("__t", F.col("__i") - j) for j in range(ctx_len, 0, -1)]
    )
    tgt = F.element_at("__t", F.col("__i"))
    ex = base.select(
        "__id",
        F.explode(F.sequence(F.lit(ctx_len + 1), F.col("__n"))).alias("__i"),
        "__t",
    ).select(
        "__id",
        ctx.alias("context"),
        tgt.alias("target"),
    )
    fold = F.conv(
        F.substring(F.md5(F.concat(F.col("context"), F.lit(">"), F.col("target"))), 1, 8),
        16,
        10,
    ).cast("long")
    return ex.groupBy(F.col("__id").alias(id_col)).agg(
        F.count("*").cast("long").alias("n_examples"),
        F.countDistinct("context").cast("long").alias("n_unique_contexts"),
        F.sum(fold).alias("example_checksum"),
    )


def feature_hash_buckets(
    df: DataFrame, text_col: str, n_buckets: int = 64, salt: str = "fh"
) -> DataFrame:
    """Hashing-trick vectorizer summary (Weinberger et al. 2009):
    every token hashes to one of ``n_buckets`` signed buckets
    (bucket from the 8-hex md5 fold, sign from the 9th hex digit's
    parity — the signed variant that makes collisions unbiased), and
    the corpus collapses to one row per bucket: (bucket, n_tokens,
    signed_sum). Integer-exact end to end — counts and ±1 sums, no
    floats anywhere — and one partial-aggregable groupBy over a
    fixed-size key domain: the 100 TB shape for vocabulary-free
    featurization."""
    w = F.explode(tokens(text_col)).alias("__w")
    toks = df.filter(F.length(F.trim(text_col)) > 0).select(w)
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("__w")))
    bucket = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
    ).cast("int")
    sign = F.lit(1) - 2 * (
        F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2
    ).cast("int")
    return toks.select(bucket.alias("bucket"), sign.alias("__s")).groupBy(
        "bucket"
    ).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("__s").cast("long").alias("signed_sum"),
    )
