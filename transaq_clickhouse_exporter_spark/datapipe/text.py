"""Text analysis operators: token counting, language ID, quality
scoring, document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
codegen) — no Python in the row loop.  Regexes stick to ASCII classes so
Java (Spark) and RE2 (DuckDB oracle) agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language heuristic.  Ordered — ties resolve to the earlier language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "und", "die", "nicht", "ist"),
    "fr": ("le", "et", "les", "des", "est"),
    "es": ("el", "los", "que", "de", "es"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-romanized markers
}


def ws_token_count(col: Column | str) -> Column:
    """Whitespace tokenization count (0 for empty/blank)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " +"))).cast("long")


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish regex token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0))).cast("long")


def _marker_hits(c: Column, words: tuple[str, ...]) -> Column:
    """How many of the marker words occur (bounded word match)."""
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    out = F.lit(0)
    for w in words:
        out = out + F.when(padded.contains(f" {w} "), 1).otherwise(0)
    return out


def lang_scores(col: Column | str) -> list[tuple[str, Column]]:
    c = F.col(col) if isinstance(col, str) else col
    return [(lang, _marker_hits(c, words)) for lang, words in LANG_MARKERS.items()]


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language heuristic: argmax of marker hits with
    deterministic priority order; 'und' (undetermined) when nothing
    matches."""
    scores = lang_scores(col)
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("und")
    for lang, s in reversed(scores):  # earlier langs win ties
        out = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: length band, punctuation
    ratio, stopword presence, mean word length band.  Deliberately
    simple + deterministic (fixed evaluation order, few FP terms)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    words = ws_token_count(c)
    punct = F.length(F.regexp_replace(c, "[A-Za-z0-9 ]", ""))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    stop_hits = _marker_hits(c, LANG_MARKERS["en"])
    mean_wlen = F.when(words > 0, n / words).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).otherwise(0.25)
    punct_ok = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.5)
    stop_ok = F.when(stop_hits >= 2, 1.0).otherwise(0.5)
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), 1.0).otherwise(0.5)
    return F.round(len_ok * 0.4 + punct_ok * 0.2 + stop_ok * 0.2 + wlen_ok * 0.2, 6)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip all
    non-alphanumerics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), "[^a-z0-9]", "")


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def profile_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text profile: token counts, language guess, quality,
    fingerprint.  Narrow projection → single scan, fully codegen'd."""
    return df.select(
        F.col(id_col),
        ws_token_count(text_col).alias("n_tokens_ws"),
        regex_token_count(text_col).alias("n_tokens_re"),
        lang_id(text_col).alias("lang_guess"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


def term_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Corpus vocabulary statistics: for the ``top_n`` terms by document
    frequency, emit (token, doc_freq, term_freq).

    Tokenization is the portable ASCII form (lowercase, split on
    ``[^a-z]+``) so any SQL engine reproduces it bit-for-bit
    (DuckDB: ``unnest(regexp_split_to_array(lower(text),'[^a-z]+'))``).

    Scale shape: explode → two-level hash agg.  The first agg keys on
    (token, doc) — map-side partial combine collapses within-document
    repeats before the shuffle; the second agg keys on token and is a
    classic word-count (partial sums, tiny output); the top-N is
    TakeOrderedAndProject, not a global sort.  ``count(DISTINCT doc)``
    in one agg would instead shuffle every (token, doc) pair into the
    final stage — the two-step form IS the distinct, made explicit.
    Order is total: (doc_freq DESC, term_freq DESC, token ASC).
    """
    tok = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    per_doc = tok.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf").alias("term_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("term_freq"), F.asc("token"))
        .limit(top_n)
    )


def rolling_fingerprint(
    col: Column | str, base: int = 131, mod: int = 1_000_000_007
) -> Column:
    """Rabin-Karp-style polynomial rolling hash of the normalized text
    (lowercase, non-alphanumerics stripped): ``fp = Σ c_i · base^(n-i)
    mod p`` folded left-to-right.  Unlike the md5 :func:`fingerprint`
    this is *incrementally extendable* — the hash of ``doc + suffix``
    derives from the hash of ``doc`` in O(|suffix|), the property
    chunked/streaming fingerprinting needs.

    Pure JVM expression (``aggregate`` over the char array — no UDF),
    and portable: DuckDB reproduces it bit-for-bit via ``list_reduce``
    over ``ascii()`` codes (see the dp11 oracle).  ``acc < p < 2^30``
    keeps ``acc·base + c`` far below 2^63 — no overflow on any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(normalize_text(c), ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


#: Ordered curation rules: (name, threshold description).  First
#: failing rule names the rejection — the fixed order makes the output
#: deterministic and SQL-reproducible.
CURATION_RULES = (
    "too_short", "too_long", "too_few_words",
    "word_len_out_of_band", "punct_heavy", "no_stopwords",
)


def curation_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 100,
    max_chars: int = 20000,
    min_words: int = 20,
    wlen_band: tuple[float, float] = (3.0, 12.0),
    max_punct_ratio: float = 0.15,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Rule-based pretraining curation gate (the Gopher/C4-style
    recipe re-expressed as codegen'd column expressions — no UDFs):
    length band, minimum word count, mean-word-length band,
    punctuation ratio, stopword presence.  Emits (id, keep,
    fail_reason) where ``fail_reason`` is the FIRST failing rule in
    :data:`CURATION_RULES` order, NULL when the document passes.
    Thresholds are parameters (defaults = the usual web-corpus
    settings); ``min_stopword_hits=0`` disables the natural-language
    prior for synthetic or non-Latin corpora.

    Scale shape: narrow single-pass projection over the corpus —
    no shuffle, no Python; the downstream ``filter(keep)`` prunes
    before any expensive stage (dedup, tokenization) runs."""
    c = F.col(text_col)
    n = F.length(c)
    words = ws_token_count(c)
    punct = F.length(F.regexp_replace(c, "[A-Za-z0-9 ]", ""))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    mean_wlen = F.when(words > 0, n / words).otherwise(F.lit(0.0))
    stop_hits = _marker_hits(c, LANG_MARKERS["en"])
    checks = [
        ("too_short", n < min_chars),
        ("too_long", n > max_chars),
        ("too_few_words", words < min_words),
        ("word_len_out_of_band", (mean_wlen < wlen_band[0]) | (mean_wlen > wlen_band[1])),
        ("punct_heavy", punct_ratio > max_punct_ratio),
        ("no_stopwords", stop_hits < min_stopword_hits),
    ]
    reason = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return df.select(
        F.col(id_col), reason.isNull().alias("keep"), reason.alias("fail_reason")
    )


#: Redaction patterns — deliberately inside the dialect subset where
#: Java regex (Spark) and RE2 (DuckDB/Go) agree exactly: character
#: classes, bounded repetition, no backrefs/lookaround/\b.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction (the C4-style scrub step): replace emails, IPv4s
    and international phone numbers with typed tokens, counting each.
    Pure codegen — ``regexp_extract_all`` + chained ``regexp_replace``;
    patterns applied in :data:`PII_PATTERNS` order (emails first, so an
    address's host part is never half-eaten by the IP rule).

    Output: (id, ``redacted``, ``n_email``, ``n_ip``, ``n_phone``).
    Scale shape: narrow projection, no shuffle, no Python."""
    c = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = c
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return df.select(F.col(id_col), red.alias("redacted"), *counts)


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 2
) -> DataFrame:
    """Within-document repetition metrics (the Gopher duplicate-n-gram
    family): total vs distinct word ``k``-grams and the duplicate
    fraction.  Machine-generated / template spam shows high
    ``dup_frac`` long before inter-document dedup can see it.

    Shape: ``posexplode`` the words (codegen Generate), build each
    k-gram from ``lead()`` neighbors over the (doc, position) window,
    then a TWO-LEVEL hash agg — first on (doc, gram) with a map-side
    partial count (this IS the distinct, made explicit), then per doc.
    Every stage is whole-stage-codegen and parallel.  Two rejected
    forms, both measured at sf0.1: the per-row array HOF
    (``size(array_distinct(transform(…)))``) evaluates interpreted and
    serializes on however many partitions the input has (9.3 s pool
    wall); explode-of-HOF-array halves that but still burns ~3.5
    interpreted CPU-seconds (3.6 s standalone on the single-split
    cache).  The window form is ~0.9 s cold / 0.3 s steady.  Docs with
    fewer than ``k`` words re-enter via a left join with zero counts."""
    words = F.split(F.trim(F.lower(F.col(text_col))), " +")
    toks = df.select(F.col(id_col), F.posexplode(words).alias("__pos", "__w"))
    win = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__w")] + [F.lead("__w", j).over(win) for j in range(1, k)]
    grams = (
        toks.select(F.col(id_col), *[p.alias(f"__p{j}") for j, p in enumerate(parts)])
        .filter(F.col(f"__p{k-1}").isNotNull())
        .select(
            F.col(id_col),
            F.concat_ws(" ", *[f"__p{j}" for j in range(k)]).alias("__g"),
        )
    )
    per_gram = grams.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
    stats = per_gram.groupBy(id_col).agg(
        F.sum("__c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
    )
    out = (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
        )
    )
    return out.select(
        id_col,
        "n_grams",
        "n_distinct_grams",
        F.when(
            F.col("n_grams") > 0,
            F.round(
                (F.col("n_grams") - F.col("n_distinct_grams")) / F.col("n_grams"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet / perplexity-filter
    family): train an add-one-smoothed bigram model on the corpus and
    score every document by its total and mean log-probability under
    it.  Template spam and word-salad both sit far from the corpus
    distribution, so a low mean log-prob is the classic cheap quality
    gate between rule filters and a learned classifier
    (:mod:`.scoring`).

    Tokenization is the portable ASCII form shared with
    :func:`term_stats`.  ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)``
    where ``c(w1)`` counts bigram prefixes and ``V`` is the corpus
    vocabulary size.  Output, one row per ``id_col`` value:
    (``id_col``, ``n_bigrams`` BIGINT, ``logp_micro_sum`` BIGINT — the
    summed natural-log probability in 1e-6 units — and ``avg_logp``,
    the mean rounded to 6).  Docs with fewer than 2 tokens re-enter
    with zeros.

    Scale shape (r16, guide §2.1/§2.3): each token pairs with its
    successor straight from the retained token array (``F.get(arr,
    pos+1)`` beside the posexplode — no lead() window, which shuffled
    the full token stream by doc_id to pair tokens that already sit
    adjacent in their array); the prefix counts ``c(w1)`` fold out of
    the bigram counts as a window sum over ``w1`` (Σ_w2 c(w1,w2) ≡
    c(w1)), so no second full pass over all occurrences aggregates
    the prefixes; the vocabulary size and nothing else is a 1-row
    broadcast.  (Measured and REJECTED: pre-reducing occurrences to
    per-doc distinct-bigram counts before the join — natural text has
    ~1 occurrence per (doc, bigram), so the extra exchange+aggregate
    bought nothing and cost 38%.)  At 100 TB the counts tables
    persist once (train offline, score forever) — the in-corpus form
    here keeps the whole path one SQL-reproducible expression.

    Cross-engine exactness: ``p`` is a single division of exact
    integers (both engines correctly round it identically); each
    bigram's log-prob is quantized to an integer BEFORE the per-doc
    sum, so only ``ln``'s last-ulp engine difference remains — the
    same accepted exposure as the rounded-cosine families."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != F.lit("")
    )
    big = (
        df.select(F.col(id_col), arr.alias("__a"))
        .select(F.col(id_col), F.col("__a"),
                F.posexplode("__a").alias("__pos", "__w"))
        # successor token straight from the retained array (F.get is
        # 0-based and yields NULL past the end even under ANSI) — the
        # token stream never shuffles and no pair array materializes
        .select(id_col, F.col("__w").alias("w1"),
                F.get("__a", F.col("__pos") + 1).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # c(w1) = Σ_w2 c(w1, w2): a window over the |distinct bigrams|
    # table replaces a second full aggregation of all occurrences
    c2cu = c2.withColumn("cu", F.sum("cb").over(Window.partitionBy("w1")))
    vc = df.select(F.explode(arr).alias("__w")).agg(
        F.countDistinct("__w").alias("v_size")
    )

    p = (F.col("cb") + F.lit(1)) / (F.col("cu") + F.col("v_size"))
    logp_micro = F.round(F.log(p) * F.lit(1e6), 0).cast("long")
    scored = (
        # c2cu is |distinct bigrams|-sized — web corpora reach 10^8+
        # bigrams, so it shuffles (equi-join on w1, w2), never broadcasts;
        # the hint keeps that shape on small corpora too, where AQE would
        # otherwise broadcast one side or the other by which stage
        # finished first
        big.join(c2cu.hint("merge"), ["w1", "w2"])
        .crossJoin(F.broadcast(vc))
        .select(F.col(id_col), F.lit(1).alias("__n"), logp_micro.alias("__lp"))
    )
    # every document also enters as one zero row, so a single aggregate
    # on the id scores documents with and without bigrams alike — no
    # join back to the corpus, whose strategy and shuffles would hang
    # on AQE's stage timing and on the corpus' own partitioning
    zeros = df.select(F.col(id_col), F.lit(0).alias("__n"), F.lit(0).cast("long").alias("__lp"))
    return (
        scored.unionByName(zeros)
        .groupBy(id_col)
        .agg(F.sum("__n").alias("n_bigrams"), F.sum("__lp").alias("logp_micro_sum"))
        .select(
            F.col(id_col),
            "n_bigrams",
            "logp_micro_sum",
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    F.col("logp_micro_sum") / F.col("n_bigrams") / F.lit(1e6), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_logp"),
        )
    )
