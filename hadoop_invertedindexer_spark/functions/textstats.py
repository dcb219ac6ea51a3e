"""Text-analysis functions for training-data pipelines (EXT, SURVEY §2B):
language ID, quality scoring, token counting, document fingerprinting.

Everything here is a built-in column expression (whole-stage codegen) —
deliberately: these run over every document of a 100 TB corpus, so the
formulas are chosen to be expressible without Python. Each has an exact
DuckDB-SQL twin in ``plans/contract_llm.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_invertedindexer_spark.functions.textprep import lowercase

# marker-word profiles for the n-gram/marker language heuristic; the
# documents table's synthetic text is English-ish so this mostly exercises
# the argmax mechanism, not linguistics.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "ist", "mit"],
    "es": ["el", "la", "los", "es", "con"],
    "fr": ["le", "la", "les", "est", "avec"],
}

# BPE-ish token pattern: letter runs, digit runs, or single non-space
# symbols — a cheap proxy for subword tokenizer token counts.
BPE_TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

FINGERPRINT_MOD = 1_000_000_007


def _padded(col) -> Column:
    return F.concat(F.lit(" "), lowercase(col), F.lit(" "))


def lang_marker_score(col, lang: str) -> Column:
    """Occurrences of the language's marker words (word-boundary exact)."""
    padded = _padded(col)
    scores = [
        F.size(F.split(padded, f" {w} ", -1)) - 1 for w in LANG_MARKERS[lang]
    ]
    total = scores[0]
    for s in scores[1:]:
        total = total + s
    return total.cast("bigint")


def lang_id(col) -> Column:
    """argmax over marker profiles; 'und' (undetermined) when all zero.
    Deterministic tie-break: profile order en > de > es > fr."""
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    # forward order + strict '>' ⇒ the earliest profile wins ties
    for lang in LANG_MARKERS:
        s = lang_marker_score(col, lang)
        best_lang = F.when(s > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(s, best_score)
    return best_lang


def n_ws_tokens(col) -> Column:
    """Whitespace token count."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    ).cast("bigint")


def n_bpe_tokens(col) -> Column:
    """BPE-ish token count via the subword proxy regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_REGEX), 0)).cast("bigint")


def punct_ratio(col) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    n = F.length(col)
    n_punct = n - F.length(F.regexp_replace(col, "[!-/:-@\\[-`{-~]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(n_punct / n, 6))


def stopword_ratio(col, stopwords: list[str]) -> Column:
    """Fraction of whitespace tokens that are stop words."""
    padded = _padded(col)
    hits = None
    for w in stopwords:
        h = F.size(F.split(padded, f" {w} ", -1)) - 1
        hits = h if hits is None else hits + h
    toks = n_ws_tokens(col)
    return F.when(toks == 0, F.lit(0.0)).otherwise(F.round(hits / toks, 6))


def mean_word_len(col) -> Column:
    toks = n_ws_tokens(col)
    n_chars = F.length(F.regexp_replace(col, "\\s+", ""))
    return F.when(toks == 0, F.lit(0.0)).otherwise(F.round(n_chars / toks, 6))


def quality_score(col, stopwords: list[str]) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length docs and a
    natural stopword rate, punishes punctuation soup. The exact weights
    are arbitrary; the contract checks the formula reproduces bit-equal
    across engines, the pytest fixtures check monotonicity."""
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col, stopwords) * 4, F.lit(1.0))
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 5)
    return F.round(0.4 * length_term + 0.3 * stop_term + 0.3 * punct_term, 6)


# PII patterns, written in the Java-regex ∩ RE2 common dialect so Spark
# and the DuckDB oracle match the exact same spans. Applied email → ip →
# phone: emails contain dot-separated digits an IP pattern could clip,
# and IPs contain digit runs a phone pattern could clip, so the more
# specific pattern always redacts first.
EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_REGEX = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PHONE_REGEX = "\\+?[0-9][0-9 ()-]{6,}[0-9]"


def count_pii(col, pattern: str) -> Column:
    """Occurrences of one PII pattern (pre-redaction)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("bigint")


def redact_pii(col) -> Column:
    """Replace emails/IPv4s/phone-like digit runs with typed placeholder
    tokens. Pure regexp_replace chain — JVM-side, whole-stage codegen,
    no Python in the hot path of a 100 TB scrub."""
    out = F.regexp_replace(col, EMAIL_REGEX, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_REGEX, "<IP>")
    return F.regexp_replace(out, PHONE_REGEX, "<PHONE>")


def dedup_repeated_tokens(col) -> Column:
    """Repetition removal: keep each whitespace token's first occurrence,
    preserving document order (the cheap intra-document analog of
    boilerplate stripping). ``array_distinct`` is order-preserving in
    Spark, so this stays a single narrow codegen'd projection — no
    explode/shuffle, no window function."""
    return F.array_join(F.array_distinct(F.split(col, " ")), " ")


def fingerprint(col) -> Column:
    """Order-sensitive polynomial rolling hash of the whole string:
    fold(acc*31 + ascii(char)) mod 1e9+7 — the classic Karp-Rabin shape,
    expressible identically in Spark and DuckDB (list_reduce), unlike
    md5/xxhash which only one engine exposes with matching bit output."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % FINGERPRINT_MOD,
    )


def repetition_signals(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — the standard pre-training filter family the
    reference surface lacks entirely): one row per document with

    * ``dup_line_frac`` — fraction of line occurrences whose (trimmed,
      non-empty) line value appears ≥2 times in the document;
    * ``dup_line_char_frac`` — the same fraction weighted by line chars;
    * ``top_ngram_char_frac`` — chars covered by the single most
      frequent word ``top_n``-gram (max over grams of count × gram
      length; ties share the same coverage value, so no tie-break is
      needed) over the normalized text length, capped at 1.0: the
      count×len product double-counts OVERLAPPING occurrences of a
      self-overlapping gram ('a a a a' has bigram 'a a' count 3), so
      without the cap the ratio can exceed 1 (ADVICE r7). Rae et al.'s
      definition is union character coverage — the product form is a
      cheap upper bound of it, so paper thresholds are conservative
      here, not directly transferable;
    * ``dup_ngram_char_frac`` — char-weighted fraction of word
      ``dup_n``-gram occurrences that belong to a gram appearing ≥2
      times (Σ_{c≥2} c·len / Σ_all c·len).

    Documents with no qualifying lines/grams report 0.0 (never null).
    All ratios round(6) — oracle-hashable.

    Distributed shape: explode lines + grams, ONE groupBy on
    (doc, value) then ONE on doc — partial aggregation end-to-end, never
    a per-document O(L²) duplicate scan inside a higher-order function
    (the interpreted-HOF trap); at 100 TB this is two shuffles of
    token-scale rows, the same cost class as the shingle pipeline. The
    tokenized projection is computed ONCE and persisted
    (``tracked_persist``) — three consumers (lines, both gram sizes)
    would otherwise each re-scan and re-normalize the corpus."""
    from hadoop_invertedindexer_spark.caching import tracked_persist
    from hadoop_invertedindexer_spark.operators.dedup import (
        _token_ngrams,
        normalized_text,
        token_array,
    )

    d = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.length(normalized_text(text_col)).alias("_nchars"),
        token_array(text_col).alias("_tk"),
    ).transform(tracked_persist)

    lines = (
        d.select(
            id_col,
            # explode_OUTER + null filter (r14): the non-outer form made
            # Catalyst infer size()>0/isnotnull over the whole
            # split+trim+filter expression and push it to the scan —
            # two extra evaluations per doc; the explicit isNotNull on
            # the generated attribute is free and restores the exact
            # row set (all-blank docs drop)
            F.explode_outer(
                F.filter(
                    F.transform(F.split("_t", "\n"), lambda x: F.trim(x)),
                    lambda x: x != "",
                )
            ).alias("line"),
        )
        .where(F.col("line").isNotNull())
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (
                F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
                / F.sum("c")
            ).alias("_dlf"),
            (
                F.sum(
                    F.when(F.col("c") >= 2, F.col("c")).otherwise(0)
                    * F.length("line")
                )
                / F.sum(F.col("c") * F.length("line"))
            ).alias("_dlcf"),
        )
    )

    def gram_counts(n: int):
        return (
            d.select(
                id_col,
                "_nchars",
                F.explode_outer(_token_ngrams(F.col("_tk"), n)).alias("g"),
            )
            .where(F.col("g") != "")
            .groupBy(id_col, "_nchars", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    top = (
        gram_counts(top_n)
        .groupBy(id_col)
        .agg(
            F.least(
                F.lit(1.0),
                F.max(F.col("c") * F.length("g")) / F.max("_nchars"),
            ).alias("_tncf")
        )
    )
    dup = (
        gram_counts(dup_n)
        .groupBy(id_col)
        .agg(
            (
                F.sum(
                    F.when(F.col("c") >= 2, F.col("c")).otherwise(0)
                    * F.length("g")
                )
                / F.sum(F.col("c") * F.length("g"))
            ).alias("_dncf")
        )
    )

    return (
        docs.select(id_col)
        .join(lines, id_col, "left")
        .join(top, id_col, "left")
        .join(dup, id_col, "left")
        .select(
            id_col,
            F.round(F.coalesce("_dlf", F.lit(0.0)), 6).alias("dup_line_frac"),
            F.round(F.coalesce("_dlcf", F.lit(0.0)), 6).alias(
                "dup_line_char_frac"
            ),
            F.round(F.coalesce("_tncf", F.lit(0.0)), 6).alias(
                "top_ngram_char_frac"
            ),
            F.round(F.coalesce("_dncf", F.lit(0.0)), 6).alias(
                "dup_ngram_char_frac"
            ),
        )
    )


def corpus_filter(
    docs,
    stopwords: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 25,
    min_quality: float = 0.5,
    lang: str | None = "en",
    max_dup_line_frac: float = 0.3,
    max_dup_ngram_char_frac: float = 0.2,
    max_top_ngram_char_frac: float = 0.2,
) -> "F.DataFrame":
    """The KEEP/DROP decision step of a CCNet/RefinedWeb-style quality
    pipeline (Wenzek et al. 2020; Penedo et al. 2023): composes the
    engine's document signals — token count, composite quality score,
    language ID, and the Gopher repetition fractions — into one verdict
    per document with an attributable reason. Returns
    (``id_col``, is_kept, drop_reason); ``drop_reason`` is the FIRST
    failing rule in the fixed order

        too_short → wrong_lang → low_quality → repetitive_lines →
        repetitive_ngrams → top_ngram_heavy

    (deterministic attribution — re-ordering rules changes reasons but
    never the keep set), null for kept documents. ``lang=None`` disables
    the language rule.

    Scale shape: every rule except the repetition fractions is a
    row-local codegen expression on the document scan; the repetition
    frame joins back on the id (the one shuffle —
    :func:`repetition_signals`' own aggregation pipeline). Reasons stay
    attributable at 100 TB because the decision is a CASE chain, not a
    filter cascade: one pass emits every document with its verdict, so
    per-reason drop accounting is a groupBy away."""
    rep = repetition_signals(docs, id_col=id_col, text_col=text_col)
    base = docs.select(
        F.col(id_col),
        n_ws_tokens(F.col(text_col)).alias("_nt"),
        quality_score(F.col(text_col), stopwords).alias("_q"),
        lang_id(F.col(text_col)).alias("_lang"),
    ).join(rep, id_col)
    reason = F.when(F.col("_nt") < min_tokens, F.lit("too_short"))
    if lang is not None:
        reason = reason.when(F.col("_lang") != lang, F.lit("wrong_lang"))
    reason = (
        reason.when(F.col("_q") < min_quality, F.lit("low_quality"))
        .when(
            F.col("dup_line_frac") > max_dup_line_frac,
            F.lit("repetitive_lines"),
        )
        .when(
            F.col("dup_ngram_char_frac") > max_dup_ngram_char_frac,
            F.lit("repetitive_ngrams"),
        )
        .when(
            F.col("top_ngram_char_frac") > max_top_ngram_char_frac,
            F.lit("top_ngram_heavy"),
        )
    )
    return base.select(
        id_col,
        reason.isNull().alias("is_kept"),
        reason.alias("drop_reason"),
    )


def unigram_nll(
    docs,
    lm_docs=None,
    max_vocab: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Language-model quality scoring, CCNet-style (Wenzek et al. 2020
    score documents by LM perplexity and filter the tail): per document,
    the average negative log-likelihood of its tokens under a UNIGRAM
    model estimated from ``lm_docs`` (default: the corpus itself), with
    Laplace smoothing so out-of-model tokens score finitely. Returns
    (``id_col``, n_tokens, avg_nll) — higher = less like the reference
    corpus; filter the top tail exactly as CCNet cuts perplexity
    buckets. (A unigram model is the dataflow-complete stand-in for the
    KenLM n-gram scorer: identical pipeline shape — count, normalize,
    broadcast, score — with the n-gram order a parameter of the counting
    step, and it keeps every probability oracle-checkable.)

    p(t) = (c_t + 1) / (N + V + 1), with c_t the token's count among the
    model's ``max_vocab`` most frequent tokens (count desc, token asc —
    the vocab rank's total order), N their total mass and V = the model
    vocabulary size; tokens outside the top-``max_vocab`` score as
    c_t = 0. avg_nll rounds to 6 (ln is correctly-rounded double math on
    both engines; the 1-ulp worst case sits ~10 orders below the
    rounding grid).

    Scale shape: the model is CAPPED at ``max_vocab`` rows, built with
    the distributed top-k (TakeOrderedAndProject), and BROADCAST — the
    scored corpus explodes to tokens, maps against the broadcast model,
    and re-aggregates per doc: one shuffle (the per-doc groupBy), no
    token-vs-token join."""
    from hadoop_invertedindexer_spark.operators.dedup import token_array

    from hadoop_invertedindexer_spark.caching import tracked_persist

    src = lm_docs if lm_docs is not None else docs
    # persisted: the capped model feeds BOTH the mass/size aggregate and
    # the broadcast scoring join — without the persist the full token
    # count pipeline scans the model corpus twice
    counts = (
        src.select(F.explode_outer(token_array(text_col)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(max_vocab)
        .transform(tracked_persist)
    )
    stats = counts.agg(
        F.sum("c").alias("n_mass"), F.count(F.lit(1)).alias("v_size")
    )
    tok = docs.select(
        F.col(id_col), F.explode_outer(token_array(text_col)).alias("token")
    ).where(F.col("token") != "")
    scored = (
        tok.join(F.broadcast(counts), "token", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_mass") + F.col("v_size") + F.lit(1.0))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


def _gram_stream(docs, id_col: str, text_col: str):
    """(id, cur, p1, p2) — one row per non-empty token with its one- and
    two-back context tokens, built ARRAY-SIDE before the explode: the
    shifted lookups read ``element_at`` off the materialized token
    column (O(1) per access), so there is no per-doc window shuffle and
    no re-evaluated-transform O(L^2) HOF (the r5 interpreted-HOF trap)."""
    from hadoop_invertedindexer_spark.operators.dedup import token_array
    from hadoop_invertedindexer_spark.sources.tables import spread_partitions

    base = spread_partitions(docs, id_col).select(
        F.col(id_col),
        F.filter(token_array(text_col), lambda t: t != "").alias("_tk"),
    )
    trip = F.transform(
        F.col("_tk"),
        lambda t, i: F.struct(
            t.alias("cur"),
            F.when(i >= 1, F.element_at(F.col("_tk"), i)).alias("p1"),
            F.when(i >= 2, F.element_at(F.col("_tk"), i - 1)).alias("p2"),
        ),
    )
    return base.select(
        id_col, F.explode_outer(trip).alias("_g")
    ).where(F.col("_g").isNotNull()).select(
        id_col,
        F.col("_g.cur").alias("cur"),
        F.col("_g.p1").alias("p1"),
        F.col("_g.p2").alias("p2"),
    )


def ngram_nll(
    docs,
    lm_docs=None,
    max_vocab: int = 4096,
    max_ngrams: int = 8192,
    lambdas: tuple[float, float, float] = (0.2, 0.3, 0.5),
):
    """Interpolated order-3 n-gram LM scoring — the full KenLM-shaped
    upgrade of :func:`unigram_nll` (VERDICT r7 ask 2): per token,

    p(t_i | t_{i-2}, t_{i-1}) = l3·p_tri + l2·p_bi + l1·p_uni

    with Jelinek-Mercer fixed-weight interpolation (``lambdas`` =
    (l1, l2, l3), summing to 1), where p_uni is the Laplace-smoothed
    capped unigram model of :func:`unigram_nll` (always > 0, so the
    interpolated probability — and the log — stays finite), and
    p_bi / p_tri are maximum-likelihood ratios over CAPPED count tables:
    the top-``max_ngrams`` bigrams/trigrams by (count desc, gram asc),
    with CONTEXT masses derived from the same capped table — so every
    ratio is <= 1 and the whole model is self-consistent at any cap. A
    gram (or its context) outside the capped tables contributes 0, as do
    the first one/two positions of a document (no BOS padding — the
    missing-order terms are simply absent, a deterministic and
    oracle-stable convention). Returns (doc_id, n_tokens, avg_nll),
    avg_nll rounded to 6.

    Scale shape: three model tables, each CAPPED (distributed top-k =
    TakeOrderedAndProject) and BROADCAST, with context masses computed
    from the capped tables (metadata-sized groupBys); the scored corpus
    pays one explode + five broadcast joins + ONE shuffle (the per-doc
    groupBy). No token-vs-token join, no per-doc window. Model-build
    shuffles are on gram keys of the lm corpus — same cost class as the
    shingle pipeline."""
    from hadoop_invertedindexer_spark.caching import tracked_persist

    l1, l2, l3 = lambdas
    id_col = "doc_id"
    src = lm_docs if lm_docs is not None else docs
    grams = _gram_stream(src, id_col, "text").transform(tracked_persist)

    uni = (
        grams.groupBy(F.col("cur").alias("token"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(max_vocab)
        .transform(tracked_persist)
    )
    stats = uni.agg(
        F.sum("c").alias("n_mass"), F.count(F.lit(1)).alias("v_size")
    )
    big = (
        grams.where(F.col("p1").isNotNull())
        .groupBy(F.col("p1").alias("w1"), F.col("cur").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cb"))
        .orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
        .limit(max_ngrams)
        .transform(tracked_persist)
    )
    bctx = big.groupBy(F.col("w1").alias("bc1")).agg(
        F.sum("cb").alias("cbc")
    )
    tri = (
        grams.where(F.col("p2").isNotNull())
        .groupBy(
            F.col("p2").alias("w1"),
            F.col("p1").alias("w2"),
            F.col("cur").alias("w3"),
        )
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), F.asc("w1"), F.asc("w2"), F.asc("w3"))
        .limit(max_ngrams)
        .transform(tracked_persist)
    )
    tctx = tri.groupBy(
        F.col("w1").alias("tc1"), F.col("w2").alias("tc2")
    ).agg(F.sum("ct").alias("ctc"))
    tri = tri.select(
        F.col("w1").alias("t1"),
        F.col("w2").alias("t2"),
        F.col("w3").alias("t3"),
        "ct",
    )

    tok = (
        _gram_stream(docs, id_col, "text")
        if lm_docs is not None
        else grams
    )
    scored = (
        tok.join(
            F.broadcast(uni), F.col("cur") == F.col("token"), "left"
        )
        .join(
            F.broadcast(big),
            (F.col("p1") == F.col("w1")) & (F.col("cur") == F.col("w2")),
            "left",
        )
        .join(F.broadcast(bctx), F.col("p1") == F.col("bc1"), "left")
        .join(
            F.broadcast(tri),
            (F.col("p2") == F.col("t1"))
            & (F.col("p1") == F.col("t2"))
            & (F.col("cur") == F.col("t3")),
            "left",
        )
        .join(
            F.broadcast(tctx),
            (F.col("p2") == F.col("tc1")) & (F.col("p1") == F.col("tc2")),
            "left",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                -F.log(
                    F.lit(l3) * F.coalesce(F.col("ct") / F.col("ctc"), F.lit(0.0))
                    + F.lit(l2)
                    * F.coalesce(F.col("cb") / F.col("cbc"), F.lit(0.0))
                    + F.lit(l1)
                    * (
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / (F.col("n_mass") + F.col("v_size") + F.lit(1.0))
                    )
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


def synthetic_classifier_weights(
    spark, n_features: int = 1024, seed: str = "w"
):
    """A deterministic (feature, weight) table for classifier tests and
    the contract oracle: w[f] = ((md5_60('{seed}|'||f) mod 2001) - 1000)
    / 1000 — uniform-ish in [-1, 1], bit-reproducible in ANSI SQL. Real
    deployments pass their trained weights instead."""
    f = F.col("id").cast("int")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), f.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return spark.range(n_features).select(
        f.alias("feature"),
        ((F.pmod(h, F.lit(2001)) - 1000) / F.lit(1000.0)).alias("weight"),
    )


def _hashed_gram_features(
    docs,
    n_features: int,
    word_ngrams: int,
    id_col: str,
    text_col: str,
    extra_cols: tuple[str, ...] = (),
):
    """The shared hashed-feature stream of the classifier trio (r10):
    md5-60bit(gram) mod ``n_features`` over the normalized token
    sequence, where grams = the tokens themselves plus, at
    ``word_ngrams=2``, every adjacent token bigram ('a b') — fastText's
    wordNgrams feature, the same hashing trick over a wider gram set.
    Bigrams are built ARRAY-SIDE with one shifted ``zip_with`` over the
    materialized token array (the O(n) form; per-element ``element_at``
    re-splitting is the r7-profiled O(n²) interpreted-HOF trap), so the
    plan stays explode → broadcast-join — word_ngrams changes the gram
    VOLUME (≈2×), never the shuffle count."""
    if word_ngrams not in (1, 2):
        raise ValueError(
            f"word_ngrams={word_ngrams}: only 1 (bag of words) and 2 "
            "(fastText wordNgrams bigrams) are supported"
        )
    from hadoop_invertedindexer_spark.operators.dedup import token_array
    from hadoop_invertedindexer_spark.sources.tables import spread_if_narrow

    # spread a narrow-provenance source (r14): the tokenize+md5 stream
    # otherwise runs inside the one-split scan stage on a single core
    docs = spread_if_narrow(docs, id_col)
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.filter(token_array(text_col), lambda t: t != "").alias("_tk"),
    )
    grams = F.col("_tk")
    if word_ngrams == 2:
        m = F.greatest(F.size("_tk") - 1, F.lit(0))
        grams = F.concat(
            grams,
            F.zip_with(
                F.slice("_tk", F.lit(1), m),
                F.slice("_tk", F.lit(2), m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode_outer(grams).alias("gram"),
    ).where(F.col("gram").isNotNull()).select(
        id_col,
        *extra_cols,
        F.pmod(
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint"),
            F.lit(n_features),
        ).cast("int").alias("feature"),
    )


def classifier_score(
    docs,
    weights=None,
    n_features: int = 1024,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_ngrams: int = 1,
):
    """Model-based quality scoring — the fastText-style linear
    classifier inference step of the DCLM / FineWeb-Edu pipelines (the
    family the heuristic ``quality_score`` and the LM scorers don't
    cover: a TRAINED model's verdict): hashed bag-of-words features
    (md5-60bit of the token mod ``n_features`` — the hashing trick, no
    vocabulary file), a broadcast weight vector, and

        score = sigmoid(bias + mean_g w[h(g)])

    per document, the mean over all grams. Returns (``id_col``,
    n_tokens, score), score round(6); with ``word_ngrams=2`` (fastText
    wordNgrams parity, r10) the gram set adds every adjacent token
    bigram, and ``n_tokens`` counts GRAMS — the model's input features,
    fastText's own normalizer — so 2T−1 for a T-token doc.
    Out-of-table features (never, when weights covers 0..n_features-1)
    contribute 0. ``weights=None`` uses
    :func:`synthetic_classifier_weights` — swap in trained weights for
    production.

    Scale shape: the model is ``n_features`` rows, BROADCAST; the corpus
    explodes to grams, maps through one broadcast join, and pays ONE
    shuffle (the per-doc mean) — identical cost class to unigram_nll.
    Inference is pure codegen: the sigmoid is an expression, not a UDF;
    at 100 TB this is the cheapest possible classifier pass, and the
    bigram stream only widens the explode (~2×), never adds a
    shuffle."""
    spark = docs.sparkSession
    w = (
        weights
        if weights is not None
        else synthetic_classifier_weights(spark, n_features)
    )
    tok = _hashed_gram_features(
        docs, n_features, word_ngrams, id_col, text_col
    )
    scored = tok.join(F.broadcast(w), "feature", "left").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.avg(F.coalesce("weight", F.lit(0.0))).alias("_m"),
    )
    z = F.lit(float(bias)) + F.col("_m")
    return scored.select(
        id_col,
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
    )


def classifier_features(
    docs,
    n_features: int = 1024,
    word_ngrams: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str | None = None,
):
    """COUNTED hashed-gram features — the shareable head of the
    classifier family (r14): (id[, _y], feature, cnt), tracked-persisted
    and REPARTITIONED BY DOC ID so that (a) a train→eval chain over the
    same docs hashes the corpus exactly once (train, predict and the
    gate all accept this frame via ``features=`` instead of re-running
    the explode+md5 pass each), and (b) every per-iteration margin
    window inside :func:`classifier_train` — which partitions by the doc
    id — reuses the persisted partitioning instead of re-exchanging the
    feature stream once per round (hash(id) satisfies the window's
    clustered distribution; the groupBy(id, _y, feature) output
    partitioning did not). With ``label_col`` the ±1 label rides as
    ``_y`` (what training needs); predict/gate ignore it."""
    from hadoop_invertedindexer_spark.caching import tracked_persist

    extra = ("_y",) if label_col else ()
    base = (
        docs.select(
            F.col(id_col),
            F.col(label_col).cast("long").alias("_y"),
            F.col(text_col),
        )
        if label_col
        else docs
    )
    return (
        _hashed_gram_features(
            base, n_features, word_ngrams, id_col, text_col, extra_cols=extra
        )
        .groupBy(id_col, *extra, "feature")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .repartition(id_col)
        .transform(tracked_persist)
    )


def classifier_train(
    docs,
    n_iters: int = 5,
    n_features: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
    init_weights=None,
    word_ngrams: int = 1,
    features=None,
):
    """Distributed batch-perceptron training — the TRAINING half of the
    DCLM / FineWeb-Edu quality-classifier loop (:func:`classifier_score`
    is the inference half): given docs labeled ±1 in ``label_col``,
    learn a linear model over the same md5-60bit hashed bag-of-words
    features the scorer uses — plus, at ``word_ngrams=2``, fastText's
    hashed adjacent-bigram features (r10) — so the trained table drops
    straight into ``classifier_score(weights=..., word_ngrams=...)`` /
    :func:`classifier_predict` called with the SAME ``word_ngrams``.

    The update rule is the batch (a.k.a. parallel) perceptron of
    McDonald, Hall & Mann 2010 §2: per iteration, every currently
    misclassified doc (y·margin ≤ 0 — the zero margin counts as wrong,
    which makes iteration 1 from the all-zero model a full pass) adds
    y·x to the weights SIMULTANEOUSLY. Unlike SGD/logistic descent,
    every quantity is an INTEGER (feature counts × integer weights), so
    the whole training loop is bit-reproducible on any partitioning and
    in ANSI SQL — the same property that made ``bpe_train``'s loop
    oracle-checkable. Training stops early when an iteration finds no
    misclassified docs (the data became separated).

    Returns the (feature int, weight long) table, non-zero rows only.
    Docs whose text normalizes to zero tokens have no features and are
    ignored (they can't influence — or be classified by — a
    bag-of-words linear model). Pass ``init_weights`` (a previously
    returned table) to WARM-START: the weight table is the loop's whole
    state, so training resumes exactly where it stopped.

    Scale shape: the corpus is exploded/hashed/counted ONCE into the
    persisted ``feats`` projection; each iteration is a SINGLE pass over
    it — broadcast-join the weights, attach the per-doc margin with a
    doc-partitioned window (no aggregate-then-rejoin: the plan audit
    showed the join form re-exchanges the corpus twice per round, and a
    cached plan's partitioning isn't visible to consumers anyway),
    filter the misclassified rows map-side, and pay one feature-keyed
    shuffle whose input is only the still-misclassified rows (shrinking
    every round) and whose output is ≤ ``n_features`` rows. The model
    itself (≤ ``n_features`` rows) lives on the driver between
    iterations and broadcasts into the margin join — metadata scale,
    the pagerank/bpe_train driver-loop pattern. Pass ``features=`` (a
    :func:`classifier_features` frame built WITH ``label_col``) to skip
    the hash pass entirely — the r14 sharing contract for train→eval
    chains over the same docs.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    feats = (
        features
        if features is not None
        else classifier_features(
            docs, n_features, word_ngrams, id_col, text_col, label_col
        )
    )
    byd = Window.partitionBy(id_col)
    # warm start: the perceptron's whole loop state IS the weight
    # table, so resuming from a stored model continues training exactly
    # (on unchanged data, continue(train(k), m) == train(k+m) — pinned
    # by test; the bpe_train_continue property, same reason)
    w: dict[int, int] = (
        {int(r["feature"]): int(r["weight"]) for r in init_weights.collect()}
        if init_weights is not None
        else {}
    )
    for _ in range(n_iters):
        if w:
            wdf = spark.createDataFrame(
                sorted(w.items()), "feature int, weight long"
            )
            mis_rows = (
                feats.join(F.broadcast(wdf), "feature", "left")
                .withColumn(
                    "_margin",
                    F.sum(
                        F.col("cnt") * F.coalesce("weight", F.lit(0))
                    ).over(byd),
                )
                .where(F.col("_y") * F.col("_margin") <= 0)
            )
        else:
            # round 1 from the zero model: margin 0 everywhere, so the
            # whole corpus is misclassified — skip the window pass
            mis_rows = feats
        # delta rows ≤ n_features — the per-iteration collect is model
        # scale, never corpus scale (same class as bpe_train's argmax)
        delta = (
            mis_rows.groupBy("feature")
            .agg(F.sum(F.col("_y") * F.col("cnt")).alias("d"))
            .collect()
        )
        if not delta:
            break
        for row in delta:
            w[row["feature"]] = w.get(row["feature"], 0) + int(row["d"])
    rows = sorted((f, c) for f, c in w.items() if c != 0)
    return spark.createDataFrame(rows, "feature int, weight long")


def classifier_predict(
    docs,
    weights,
    n_features: int = 1024,
    bias: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_ngrams: int = 1,
    features=None,
):
    """Hard-vote classification with a trained linear model — the
    perceptron's own decision function: ``pred = sign(bias + Σ_t
    w[h(t)])`` over the SUMMED hashed-feature margin (exactly what
    :func:`classifier_train` optimizes, zero margin → −1, the training
    convention). Contrast :func:`classifier_score`, whose MEAN+sigmoid
    is the length-normalized calibrated variant for thresholding /
    bucketing: the mean erases document length, which for a perceptron
    trained on count vectors is part of the signal — use predict for
    labeling with trained weights, score for rate-controlled filtering.

    Returns (``id_col``, ``n_tokens``, ``margin``, ``pred`` ∈ {−1, 1});
    with ``word_ngrams=2`` (pass the value the model was TRAINED with)
    ``n_tokens`` counts grams, matching the trainer's feature volume.
    Integer end-to-end (weights are the trainer's integer table), so
    predictions are bit-reproducible and oracle-checkable.

    Scale shape: identical to ``classifier_score`` — one broadcast join
    against the ≤ ``n_features`` weight table, one per-doc aggregate,
    all codegen. Pass ``features=`` (a :func:`classifier_features`
    frame over the same docs/settings) to reuse an already-hashed
    counted-feature frame instead of re-running the explode+md5 pass:
    ``n_tokens = Σ cnt`` and ``margin = bias + Σ cnt·w`` are the same
    integers the per-gram-row path sums (r14 — pinned by test)."""
    if features is not None:
        margins = (
            features.join(F.broadcast(weights), "feature", "left")
            .groupBy(id_col)
            .agg(
                F.sum("cnt").cast("long").alias("n_tokens"),
                (
                    F.lit(int(bias))
                    + F.sum(F.col("cnt") * F.coalesce("weight", F.lit(0)))
                ).cast("long").alias("margin"),
            )
        )
        return margins.select(
            id_col,
            "n_tokens",
            "margin",
            F.when(F.col("margin") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("pred"),
        )
    tok = _hashed_gram_features(
        docs, n_features, word_ngrams, id_col, text_col
    )
    margins = (
        tok.join(F.broadcast(weights), "feature", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.lit(int(bias))
                + F.sum(F.coalesce("weight", F.lit(0)))
            ).cast("long").alias("margin"),
        )
    )
    return margins.select(
        id_col,
        "n_tokens",
        "margin",
        F.when(F.col("margin") > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("pred"),
    )


def classifier_auc(
    scored,
    label_col: str = "y",
    margin_col: str = "margin",
):
    """Classifier EVAL report — ROC-AUC and sign-decision accuracy of a
    margin column against ±1 labels, the go/no-go metric of every
    quality-classifier retrain (fastText's own ``test`` verb). One row:
    (n_pos, n_neg, n_docs, n_correct, accuracy_mils, auc_mils), all
    integers / integer thousandths so the report is bit-reproducible
    across engines.

    AUC is computed by the Mann-Whitney rank-sum identity over GROUPED
    margins — no per-row global sort: group the corpus by its (integer)
    margin, cumulative-sum the tiny per-margin histogram, and fold the
    tie-aware average ranks in one aggregate. With ``p_m`` positives of
    ``g_m`` rows at margin ``m`` and ``C_m`` rows strictly below,
    ``2·Σ_pos avgrank = Σ_m p_m (2 C_m + g_m + 1)``, and ``auc_mils =
    (2·ranksum − n_pos (n_pos+1)) · 1000 // (2 n_pos n_neg)`` — ties
    count half, the textbook convention. Degenerate label sets (no
    positives or no negatives) yield NULL auc_mils rather than a fake
    score.

    Accuracy uses the trainer's own decision rule (margin > 0 → +1,
    else −1 — ``classifier_predict``'s convention).

    Scale shape: one corpus-side partial aggregate down to the distinct-
    margin histogram (metadata scale: margins are bounded by the integer
    weight mass, thousands of cells at worst), one single-partition
    window over that tiny frame (the pack_tokens bucket-summary
    pattern), and one one-row cross join — the corpus is scanned once
    and never sorted."""
    from pyspark.sql import Window

    m, y = F.col(margin_col), F.col(label_col)
    g = scored.groupBy(margin_col).agg(
        F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum(F.when((m > 0) == (y == 1), 1).otherwise(0))
        .cast("long")
        .alias("ok"),
    )
    cum_w = Window.orderBy(margin_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.withColumn(
        "cum", F.coalesce(F.sum("tot").over(cum_w), F.lit(0))
    )
    t = c.agg(
        F.sum(F.col("pos") * (2 * F.col("cum") + F.col("tot") + 1))
        .cast("long")
        .alias("ranksum2"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("tot") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum("tot").cast("long").alias("n_docs"),
        F.sum("ok").cast("long").alias("n_correct"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        "n_docs",
        "n_correct",
        F.expr("n_correct * 1000 DIV n_docs").alias("accuracy_mils"),
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
            " ELSE (ranksum2 - n_pos * (n_pos + 1)) * 1000"
            " DIV (2 * n_pos * n_neg) END"
        ).alias("auc_mils"),
    )


def classifier_calibration(
    scored,
    n_bins: int = 10,
    scale: int = 100,
    label_col: str = "y",
    margin_col: str = "margin",
):
    """Classifier CALIBRATION report — reliability bins + Brier score
    (Brier 1950; reliability diagrams per Murphy 1973, the standard
    post-train check per Niculescu-Mizil & Caruana 2005): does the
    model's confidence MEAN anything, or does a margin of +90 win only
    55% of the time? AUC can't see this (it's rank-only), so this is
    the third leg of the eval family next to :func:`classifier_auc`
    and ``ann_recall``. One row per occupied reliability bin:
    (bin, n_docs, n_pos, mean_margin_mils, pos_rate_mils, mean_p_mils,
    gap_mils, se_sum, brier_micros) — all integers, bit-reproducible.

    The probability map is the clamped LINEAR Platt-style transform
    ``p_mils = clamp(500·(scale+margin)/scale, 0, 1000)`` (margin
    +scale → 1.0, −scale → 0.0): margins of an integer-trained
    perceptron aren't probabilities, and this report is exactly the
    tool that shows where the linear map is wrong — a saturated
    overconfident model shows bins with ``mean_p_mils`` near 0/1000
    against mid-range ``pos_rate_mils`` and a large ``gap_mils``.
    Brier decomposes per bin: ``se_sum`` is the exact integer sum of
    squared mils errors Σ(p_mils − 1000·y)², so the corpus Brier is
    derivable exactly as Σ se_sum // Σ n_docs; ``brier_micros`` is the
    per-bin mean (micro-units: mils² of the unit square).

    Bins partition the OBSERVED margin range equally: bin =
    (margin − min)·n_bins // (max − min + 1) ∈ [0, n_bins). All
    divisions are floor-division-safe across engines: every DIV here
    has a non-negative numerator except mean_margin_mils, which uses
    the pmod floor identity (the ``filter_agreement`` lesson — Spark
    DIV truncates, DuckDB // floors, they diverge on negatives).

    Scale shape: ONE corpus partial aggregate down to the distinct-
    margin histogram (metadata scale — margins are bounded by the
    integer weight mass); the min/max broadcast back as a one-row
    cross join and the bin rollup runs on the tiny histogram. The
    corpus is scanned once and never sorted — the classifier_auc
    contract."""
    m, y = F.col(margin_col), F.col(label_col)
    g = scored.groupBy(margin_col).agg(
        F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("tot"),
    )
    stats = g.agg(
        F.min(margin_col).cast("long").alias("_mn"),
        F.max(margin_col).cast("long").alias("_mx"),
    )
    # p_mils per distinct margin: truncating DIV ≡ floor // here —
    # a negative numerator yields a non-positive quotient under either
    # convention and both clamp to 0
    binned = (
        g.crossJoin(F.broadcast(stats))
        .withColumn(
            "_bin",
            F.expr(
                f"({margin_col} - _mn) * {int(n_bins)}"
                " DIV (_mx - _mn + 1)"
            ).cast("int"),
        )
        .withColumn(
            "_p",
            F.expr(
                f"least(1000, greatest(0,"
                f" 500 * ({int(scale)} + {margin_col})"
                f" DIV {int(scale)}))"
            ).cast("long"),
        )
    )
    b = binned.groupBy("_bin").agg(
        F.sum("tot").cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(m.cast("long") * F.col("tot")).cast("long").alias("_msum"),
        F.sum(F.col("_p") * F.col("tot")).cast("long").alias("_psum"),
        F.sum(
            (F.col("tot") - F.col("pos")) * F.col("_p") * F.col("_p")
            + F.col("pos")
            * (F.lit(1000) - F.col("_p"))
            * (F.lit(1000) - F.col("_p"))
        )
        .cast("long")
        .alias("se_sum"),
    )
    return b.select(
        F.col("_bin").alias("bin"),
        "n_docs",
        "n_pos",
        # floor division via the pmod identity: _msum can be negative
        F.expr(
            "(_msum * 1000 - pmod(_msum * 1000, n_docs)) DIV n_docs"
        ).alias("mean_margin_mils"),
        F.expr("n_pos * 1000 DIV n_docs").alias("pos_rate_mils"),
        F.expr("_psum DIV n_docs").alias("mean_p_mils"),
        F.expr(
            "abs(_psum DIV n_docs - n_pos * 1000 DIV n_docs)"
        ).alias("gap_mils"),
        "se_sum",
        F.expr("se_sum DIV n_docs").alias("brier_micros"),
    )


def classifier_pr_sweep(
    scored,
    label_col: str = "y",
    margin_col: str = "margin",
):
    """Precision/recall THRESHOLD SWEEP — the operating-point picker
    that closes the eval family (:func:`classifier_auc` ranks,
    :func:`classifier_calibration` checks confidence, this one chooses
    the cut): for every candidate decision threshold ``t`` (the
    distinct margin values), report what the rule "keep iff margin >
    t" would do. fastText users run exactly this sweep before wiring a
    quality classifier into a corpus filter, because the right cut is
    a product decision (kept-fraction vs precision) that no single
    scalar metric makes. One row per distinct margin:
    (threshold, n_kept, kept_mils, n_pos_kept, precision_mils,
    recall_mils) — all integers / integer thousandths,
    bit-reproducible. ``t = min(margin)`` keeps everything above it;
    cutting at ``t = max(margin)`` keeps nothing (precision NULL, the
    degenerate row is reported rather than faked). The KEEP-EVERYTHING
    operating point is reported too (r11 ADVICE): a sentinel row at
    ``threshold = min(margin) − 1`` with ``n_kept = n_docs`` — the
    full-corpus baseline a consumer scanning the sweep for a cut needs
    as its reference point, emitted by the sweep's own window via one
    synthetic empty margin group below the corpus minimum.

    Scale shape: the classifier_auc contract — ONE corpus partial
    aggregate to the distinct-margin histogram, then windows over that
    metadata-scale frame only; the corpus is scanned once and never
    sorted. The corpus totals ride the sweep's own window output (the
    sentinel row's cumulative counts ARE n_docs / n_pos, read back via
    an unpartitioned max over the already-single-partition frame), so
    no separate totals aggregate and no extra exchange. Every division
    has a non-negative numerator, so Spark DIV ≡ DuckDB //."""
    from pyspark.sql import Window

    y = F.col(label_col)
    g = scored.groupBy(
        F.col(margin_col).cast("long").alias(margin_col)
    ).agg(
        F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("tot"),
    )
    # keep-everything sentinel (r11 ADVICE): one synthetic EMPTY margin
    # group one below the corpus minimum, so the sweep's own window
    # emits the full-corpus baseline row (threshold = min − 1 keeps
    # everything under the strictly-greater rule) and tot = 0 shifts no
    # other row; the where() drops it on an empty corpus (NULL min)
    sentinel = g.agg(
        (F.min(margin_col) - 1).cast("long").alias(margin_col),
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("tot"),
    ).where(F.col(margin_col).isNotNull())
    g2 = g.unionByName(sentinel)
    above = Window.orderBy(F.desc(margin_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g2.select(
        F.col(margin_col).cast("long").alias("threshold"),
        F.coalesce(F.sum("tot").over(above), F.lit(0))
        .cast("long")
        .alias("n_kept"),
        F.coalesce(F.sum("pos").over(above), F.lit(0))
        .cast("long")
        .alias("n_pos_kept"),
    )
    # corpus totals = the sentinel row's cumulative counts: max over
    # the metadata-scale sweep frame, which the cumsum window already
    # left on a single partition — no new exchange, no crossJoin
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = c.withColumn("_n_docs", F.max("n_kept").over(w_all)).withColumn(
        "_n_pos", F.max("n_pos_kept").over(w_all)
    )
    return c.select(
        "threshold",
        "n_kept",
        F.expr("n_kept * 1000 DIV _n_docs").alias("kept_mils"),
        "n_pos_kept",
        F.expr(
            "CASE WHEN n_kept = 0 THEN NULL"
            " ELSE n_pos_kept * 1000 DIV n_kept END"
        ).alias("precision_mils"),
        F.expr(
            "CASE WHEN _n_pos = 0 THEN NULL"
            " ELSE n_pos_kept * 1000 DIV _n_pos END"
        ).alias("recall_mils"),
    )


def corpus_filter_classifier(
    docs,
    weights,
    min_precision_mils: int = 800,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
    n_features: int = 1024,
    word_ngrams: int = 1,
    bias: int = 0,
    features=None,
):
    """Threshold-picked classifier gate (r12) — the consumer that
    closes the eval family's loop: :func:`classifier_pr_sweep` reports
    every operating point, this operator PICKS one and gates the
    corpus with it. The chosen cut is the SMALLEST margin threshold
    whose sweep precision meets ``min_precision_mils`` with a nonempty
    keep set — i.e. maximum recall subject to the precision floor
    (n_kept is monotone non-increasing in the threshold, so the
    smallest qualifying threshold keeps the most); if NO operating
    point meets the floor, the gate keeps nothing (threshold =
    max(margin), reported honestly rather than silently loosened).
    Thanks to the sweep's keep-everything sentinel row, a corpus whose
    base rate already meets the floor gates nothing out.

    ``docs`` must carry ``label_col`` (the eval-labeled calibration
    frame fastText users sweep on). Returns one verdict per document —
    (``id_col``, margin, threshold, is_kept, drop_reason) — with
    ``drop_reason = 'classifier_low_margin'`` for gated docs and NULL
    for keepers, composing with :func:`corpus_filter`'s attribution
    contract (coalesce the rule reason with the classifier reason for
    a combined pipeline verdict).

    Scale shape: one :func:`classifier_predict` pass (broadcast weight
    join + per-doc aggregate), one id-keyed label join-back, and the
    sweep's metadata-scale histogram; the threshold derivation is an
    aggregate over the SWEEP frame (histogram-side — corpus data is
    never collected) riding back as a one-row broadcast. All integers,
    bit-reproducible."""
    from hadoop_invertedindexer_spark.caching import tracked_persist

    preds = classifier_predict(
        docs, weights, n_features, bias, id_col, text_col, word_ngrams,
        features=features,
    ).transform(tracked_persist)  # the sweep AND the gate both read it
    labeled = preds.join(docs.select(id_col, label_col), id_col)
    sweep = classifier_pr_sweep(
        labeled, label_col=label_col, margin_col="margin"
    )
    chosen = sweep.agg(
        F.coalesce(
            F.min(
                F.when(
                    (F.col("precision_mils") >= min_precision_mils)
                    & (F.col("n_kept") > 0),
                    F.col("threshold"),
                )
            ),
            F.max("threshold"),
        ).alias("threshold")
    )
    gated = preds.crossJoin(F.broadcast(chosen))
    keep = F.col("margin") > F.col("threshold")
    return gated.select(
        id_col,
        "margin",
        "threshold",
        keep.alias("is_kept"),
        F.when(keep, F.lit(None).cast("string"))
        .otherwise(F.lit("classifier_low_margin"))
        .alias("drop_reason"),
    )


def score_buckets(
    scored,
    score_col: str = "avg_nll",
    id_col: str = "doc_id",
    fractions: tuple[float, float] = (1 / 3, 2 / 3),
    granularity: int = 1000,
    labels: tuple[str, str, str] = ("head", "middle", "tail"),
):
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020
    §4.3: split the corpus into perplexity terciles and sample them at
    different rates): assign every row a bucket label by its score
    QUANTILE, computed scale-safely — no global sort of the corpus, no
    non-portable approx-percentile sketch. Rows with the LOWEST scores
    (best perplexity) land in ``head``.

    Mechanism: scores discretize to ``floor(score · granularity)``
    cells; the cell histogram is a METADATA-scale frame (score range ×
    granularity rows), its cumulative sum runs in one single-partition
    window over that tiny frame (the pack_tokens bucket-summary
    pattern), and the two cutoff cells — the first whose cumulative
    count reaches ``ceil(N · fraction)`` — broadcast back as one row.
    Every row in a cutoff CELL gets the lower label: the boundary is
    deterministic at 1/granularity score resolution (documented
    convention; CCNet's own buckets are percentile-grid approximations
    too). Exactly one corpus pass + one per-cell shuffle.

    Returns ``scored`` plus a ``bucket`` column."""
    from hadoop_invertedindexer_spark.caching import tracked_persist

    from pyspark.sql import Window

    lo, hi = fractions
    cell = F.floor(F.col(score_col) * granularity).cast("long")
    hist = (
        scored.groupBy(cell.alias("_cell"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .transform(tracked_persist)  # the N aggregate + the cutoff scan
    )
    w = Window.orderBy("_cell").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "_cell", F.sum("_n").over(w).alias("_cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("_n").alias("_tot"))))
    cuts = cum.agg(
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.col("_tot") * lo), F.col("_cell")
            )
        ).alias("_c1"),
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.col("_tot") * hi), F.col("_cell")
            )
        ).alias("_c2"),
    )
    h, m, t = labels
    return (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn(
            "bucket",
            F.when(cell <= F.col("_c1"), F.lit(h))
            .when(cell <= F.col("_c2"), F.lit(m))
            .otherwise(F.lit(t)),
        )
        .drop("_c1", "_c2")
    )


def lang_confusion(
    docs,
    gold_col: str = "lang",
    text_col: str = "text",
):
    """Language-ID EVAL report — the confusion matrix of the marker-
    profile heuristic (:func:`lang_id`) against gold labels, the check
    you run before trusting a language column to drive mixture_plan or
    data_card cells (a classifier that folds one language into another
    silently reshapes the training mixture). One row per non-empty
    (gold, pred) cell: (gold, pred, n_docs, share_mils) — share_mils =
    the cell's integer-thousandths share of its GOLD row, so the
    diagonal reads as per-language recall.

    Scale shape: one corpus pass (the heuristic is a pure codegen CASE
    over marker counts), one metadata-scale groupBy to ≤ |langs|² cells,
    and one window over that tiny matrix for the row totals — the
    corpus is never sorted or re-read."""
    from pyspark.sql import Window

    g = docs.groupBy(
        F.col(gold_col).alias("gold"),
        lang_id(F.col(text_col)).alias("pred"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    row_total = F.sum("n_docs").over(Window.partitionBy("gold"))
    return g.select(
        "gold",
        "pred",
        "n_docs",
        F.floor(F.col("n_docs") * F.lit(1000) / row_total)
        .cast("long")
        .alias("share_mils"),
    )


def pii_report(
    docs,
    source_col: str = "source",
    text_col: str = "text",
):
    """Per-source PII compliance rollup — the dashboard a privacy
    review reads before a source is cleared for training (and the
    before/after evidence around a :func:`redact_pii` run): per
    ``source_col``, total docs, per-pattern hit masses (emails / IPv4s
    / phone runs), how many docs carry ANY hit, and the integer-
    thousandths rate of affected docs.

    Scale shape: the three pattern counters are pure regexp codegen
    riding one corpus projection; the rollup is a metadata-scale
    groupBy to ≤ |sources| rows with partial aggregation — one pass,
    no shuffle of text."""
    e = count_pii(F.col(text_col), EMAIL_REGEX)
    i = count_pii(F.col(text_col), IPV4_REGEX)
    p = count_pii(F.col(text_col), PHONE_REGEX)
    per = docs.select(
        F.col(source_col).alias("source"),
        e.alias("_e"),
        i.alias("_i"),
        p.alias("_p"),
    )
    g = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_e").cast("long").alias("n_emails"),
        F.sum("_i").cast("long").alias("n_ips"),
        F.sum("_p").cast("long").alias("n_phones"),
        F.sum(
            (
                (F.col("_e") + F.col("_i") + F.col("_p")) > 0
            ).cast("int")
        )
        .cast("long")
        .alias("n_docs_with_pii"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_emails",
        "n_ips",
        "n_phones",
        "n_docs_with_pii",
        F.expr("n_docs_with_pii * 1000 DIV n_docs").alias(
            "pii_doc_rate_mils"
        ),
    )


def filter_agreement(
    verdicts,
    a_col: str = "a",
    b_col: str = "b",
):
    """Inter-filter AGREEMENT report — the contingency counts, raw
    agreement, and Cohen's kappa between two boolean keep/drop signals
    (a rule filter vs a trained classifier, an old vs new quality cut):
    the check you run before swapping one quality gate for another,
    because two filters can agree 90% by BASE RATE alone — kappa is the
    chance-corrected number. One row: (n_docs, n_both, n_a_only,
    n_b_only, n_neither, agreement_mils, kappa_mils).

    kappa = (p_o − p_e)/(1 − p_e) computed entirely in integer space:
    kappa_mils = (agree·n − pe_num)·1000 ⌊/⌋ (n² − pe_num) with pe_num
    = r₁c₁ + r₀c₀ — FLOOR division via the pmod identity, because kappa
    can be negative and Spark's DIV truncates toward zero while the
    oracle's ``//`` floors (they differ exactly on negative
    numerators). NULL when p_e = 1 (both signals constant).

    Scale shape: one corpus aggregate to five counters; everything else
    is a one-row projection."""
    a, b = F.col(a_col), F.col(b_col)
    c = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((a & b).cast("int")).cast("long").alias("n_both"),
        F.sum((a & ~b).cast("int")).cast("long").alias("n_a_only"),
        F.sum((~a & b).cast("int")).cast("long").alias("n_b_only"),
        F.sum((~a & ~b).cast("int")).cast("long").alias("n_neither"),
    )
    staged = c.withColumn(
        "_pe_num",
        F.expr(
            "(n_both + n_a_only) * (n_both + n_b_only)"
            " + (n_docs - (n_both + n_a_only))"
            "   * (n_docs - (n_both + n_b_only))"
        ),
    ).withColumn("_agree", F.expr("n_both + n_neither"))
    return staged.select(
        "n_docs",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.expr("_agree * 1000 DIV n_docs").alias("agreement_mils"),
        F.expr(
            "CASE WHEN n_docs * n_docs = _pe_num THEN NULL ELSE"
            " ((_agree * n_docs - _pe_num) * 1000"
            "  - pmod((_agree * n_docs - _pe_num) * 1000,"
            "         n_docs * n_docs - _pe_num))"
            " DIV (n_docs * n_docs - _pe_num) END"
        ).alias("kappa_mils"),
    )
