"""Deduplication operators for training-data pipelines (EXT, SURVEY §2B).

Five families, each a ``DataFrame -> DataFrame`` transform over the
``documents`` table (and ``embeddings`` for the vector variant):

* exact           — normalize → hash → keep one doc per hash (one shuffle)
* n-gram Jaccard  — shingle inverted join; exact set similarity
* MinHash + LSH   — signature via 64x ``xxhash64`` (all JVM-side),
                    banded LSH join for candidates, signature-estimated
                    Jaccard verify
* SimHash         — 64-bit fingerprint via an Arrow-batched pandas UDF
                    (bit-parallel majority vote needs numpy), hamming
                    band join
* embedding       — random-hyperplane LSH buckets + exact cosine verify

Scale design notes (the part that must survive 100 TB):

* Every candidate-generation step is a *bounded-fanout equi-join* — never
  an all-pairs cross join. The Jaccard path caps shingle document
  frequency (``max_df``) exactly like dropping stop-shingles; LSH paths
  bound work by band-bucket size.
* Hashes (``xxhash64``) and signatures stay in whole-stage codegen; the
  only Python is the SimHash pandas UDF (Arrow-batched).
* Pair output is canonicalized ``a < b`` so downstream joins/dedup of the
  pair list stay keyable.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from hadoop_invertedindexer_spark.caching import tracked_persist
from hadoop_invertedindexer_spark.concurrency import (
    run_overlapped as _run_overlapped,
)

from hadoop_invertedindexer_spark.functions.textprep import lowercase, strip_punct

# --------------------------------------------------------------- helpers


from hadoop_invertedindexer_spark.sources.tables import spread_partitions as _spread


def normalized_text(col="text"):
    """Dedup normalization: lowercase, strip punctuation, collapse runs of
    whitespace — so trivial formatting differences don't defeat dedup."""
    return F.trim(F.regexp_replace(strip_punct(lowercase(col)), "\\s+", " "))


def token_array(col="text"):
    """Ordered token array of the normalized text."""
    return F.split(normalized_text(col), " ")


def _token_ngrams(tokens, n: int, n_tokens=None):
    """Word n-grams of a token-array column: every run of ``n``
    consecutive tokens, space-joined, in order; fewer than ``n`` tokens
    yield the whole space-joined array as one gram. ``n_tokens`` is an
    already-computed ``size(tokens)`` column, when the caller has one.
    ``tokens`` must be a column reference or lambda variable: it is
    evaluated once per gram."""
    if n_tokens is None:
        n_tokens = F.size(tokens)
    return F.when(n_tokens < n, F.array(F.concat_ws(" ", tokens))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_tokens - n),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )
    )


def word_ngrams(col="text", n: int = 3):
    """Array of word n-gram shingles (space-joined, order-preserving).

    The token array is bound to a lambda variable (a one-element
    ``transform``) so it is computed once per row. Higher-order
    functions are interpreted and Catalyst does not pull a common
    subexpression out of a lambda body: ``token_array`` referenced
    inside the per-gram lambda would re-run the whole lowercase,
    punctuation, whitespace and split chain once per shingle, O(tokens²)
    per doc."""
    return F.element_at(
        F.transform(F.array(token_array(col)), lambda t: _token_ngrams(t, n)), 1
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_bits: int = 20,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS scheme): hash every word ``k``-gram, slide a
    ``w``-wide window over the hash sequence, and keep each window's
    RIGHTMOST minimum. The selected set is ~``2/(w+1)`` of all hashes
    yet GUARANTEES any shared token run of length ≥ ``w + k − 1``
    shares at least one fingerprint — the storage/recall contract that
    made winnowing the standard local fingerprinting scheme (plagiarism
    detection, near-dup sketching at crawl scale). Returns one row per
    selected position: (``id_col``, pos, fp).

    Portability construction: the k-gram hash is the md5-40bit prefix
    (reproducible in ANSI SQL), packed as ``h·2^20 + (2^20−1−pos)`` so
    a single windowed ``min`` implements BOTH the minimum and the
    rightmost tie-break (larger pos ⇒ smaller packed value), and the
    selected (pos, fp) decode arithmetically from the min — no join
    back. Cap: per-doc gram positions < 2^``pos_bits`` (default 2^20),
    ENFORCED — a doc over the cap would make the packed offset
    negative and silently corrupt the min key, so the plan raises
    loudly instead (split longer docs first — ``split_long_docs``
    exists for exactly that). ``pos_bits`` must stay ≤ 23 so
    h40·2^pos_bits fits signed 64-bit.

    Scale shape: one posexplode + ONE doc-keyed exchange, paid UP FRONT
    (r14): the doc stream is spread by id BEFORE the gram explode and
    per-gram md5, so the expensive hashing runs at full width even when
    the source arrives as one split (the single-file-scan trap —
    measured: the whole gram+md5 stage ran as ONE task off the one-file
    sf fixture), and the min window reuses that same id partitioning
    with no second exchange. The gram COUNT rides the materialized gram
    array (``size`` before the explode — r14), replacing the former
    full-partition count window: one Window operator instead of two.
    Short docs (< k tokens) fingerprint their whole text — every doc is
    represented."""
    from pyspark.sql import Window

    if pos_bits > 23:
        raise ValueError(
            f"pos_bits={pos_bits}: h40 * 2^pos_bits must fit signed 64-bit "
            "(pos_bits <= 23)"
        )
    space = 1 << pos_bits
    kg = (
        _spread(
            docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
        )
        .select("id", word_ngrams(text_col, k).alias("_gs"))
        # posexplode_OUTER (r14): the non-outer generator makes Catalyst
        # infer `size(grams) > 0 AND isnotnull(grams)` and push it below
        # the exchange to the scan — re-evaluating the whole gram
        # expression TWICE more inside the (often single-task) scan
        # stage. word_ngrams never returns an empty/null array (short
        # docs get a 1-element array), so the outer form is
        # row-identical and the inferred filter never pruned anything.
        .select(
            "id",
            F.size("_gs").alias("ng"),
            F.posexplode_outer("_gs").alias("pos", "g"),
        )
    )
    h40 = F.conv(F.substring(F.md5("g"), 1, 10), 16, 10).cast("long")
    comb = kg.select(
        "id",
        "pos",
        "ng",
        (h40 * F.lit(space) + (F.lit(space - 1) - F.col("pos"))).alias("c"),
    )
    wmin = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    )
    staged = comb.select(
        "id",
        "pos",
        "ng",
        F.min("c").over(wmin).alias("mc"),
    )
    # the cap guard rides the decoded min expression (never pruned —
    # every output row consumes mc): an over-cap doc fails the job
    # loudly instead of winnowing corrupted keys
    mc_guarded = F.when(
        F.col("ng") <= F.lit(space), F.col("mc")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("winnow_fingerprints: doc "),
                F.col("id").cast("string"),
                F.lit(" has "),
                F.col("ng").cast("string"),
                F.lit(f" gram positions, over the 2^{pos_bits} packing "),
                F.lit("cap; split it first (split_long_docs)"),
            )
        )
    )
    return (
        staged.where(
            F.col("pos") <= F.greatest(F.col("ng") - w, F.lit(0))
        )
        .select(
            "id",
            mc_guarded.alias("mc"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.lit(space - 1) - (F.col("mc") % F.lit(space)))
            .cast("long")
            .alias("pos"),
            # integer division, NOT '/': the packed value approaches
            # 2^60 and a double round-trip would lose low bits
            F.expr(f"mc DIV {space}").cast("long").alias("fp"),
        )
        .distinct()
    )


def _winnow_kept_postings(
    docs: DataFrame,
    k: int,
    w: int,
    max_df: int,
    id_col: str,
    text_col: str,
    max_df_tiers: tuple[int, ...] | None,
    max_dropped_mils: int,
) -> DataFrame:
    """The capped winnowed posting frame (id, fp) every winnow pair
    join streams — factored out of :func:`winnow_overlap_pairs` (r14)
    so the sampled truncation audit joins EXACTLY the postings the
    production join does. The fingerprint frame is persisted (the
    df-cap aggregate and both downstream join sides read it); the
    shuffle_hash pins are the r11 posture: the cap frame is a
    corpus-derived aggregate and the posting stream is the winnowed
    corpus — never broadcast either."""
    fps = (
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
        .transform(tracked_persist)  # df-cap + both join sides
    )
    # the KEPT frame persists too (r14): every consumer reads it at
    # least twice (both sides of the pair self-join, or the sampled +
    # unsampled sides of the estimate), so without the persist the
    # cap-filter join ran once per side; with it the self-join reads ONE
    # cached frame whose fp-hash partitioning both sides share — the
    # pair join needs no new exchange at all
    if max_df_tiers is None:
        cap = fps.groupBy("fp").agg(
            F.count(F.lit(1)).alias("df")
        ).where(F.col("df") <= max_df)
        return fps.join(
            cap.select("fp").hint("shuffle_hash"), "fp"
        ).transform(tracked_persist)
    dfc = fps.groupBy("fp").agg(
        F.count(F.lit(1)).alias("df")
    ).transform(tracked_persist)  # chooser + filter join
    chosen = _choose_df_cap(dfc, max_df_tiers, max_dropped_mils)
    return (
        fps.join(dfc.hint("shuffle_hash"), "fp")
        .crossJoin(F.broadcast(chosen))
        .where(F.col("df") <= F.col("cap"))
        .select("fp", "id")
        .transform(tracked_persist)
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
) -> DataFrame:
    """Winnow-based near-dup pair detection — what MOSS actually does
    with the fingerprints: documents sharing ≥ ``min_shared`` selected
    fingerprints are reported as (id_a, id_b, n_shared). Because
    winnowing guarantees any shared run of ≥ ``w + k − 1`` tokens
    shares a fingerprint, this catches long verbatim overlaps while
    joining only the ~2/(w+1)-density selected sets — the sketch-sized
    alternative to joining every shingle (``ngram_jaccard_pairs`` /
    ``containment_pairs`` join the full shingle sets).

    Scale shape: the self-join runs on the WINNOWED stream (w+1 ≈ 5×
    smaller than the gram stream) with the same ``max_df``
    stop-fingerprint fanout cap as the shingle family; everything keys
    on 8-byte fingerprints. ``max_df_tiers`` swaps the fixed cap for
    the tiered escalation chooser (see :func:`containment_pairs`);
    :func:`winnow_cap_report` is the observability twin."""
    kept = _winnow_kept_postings(
        docs, k, w, max_df, id_col, text_col, max_df_tiers,
        max_dropped_mils,
    )
    a, b = kept.alias("a"), kept.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _symmetric_pairs(pairs: DataFrame) -> DataFrame:
    """Both directed views of a canonical (id_a < id_b) pair frame in
    ONE pass — explode a 2-element struct array instead of a
    self-union, so the (expensive) pair aggregation upstream is not
    computed twice. Returns (id, nbr, n_shared)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id"), F.col("id_b").alias("nbr")
                ),
                F.struct(
                    F.col("id_b").alias("id"), F.col("id_a").alias("nbr")
                ),
            )
        ).alias("e"),
        "n_shared",
    ).select("e.id", "e.nbr", "n_shared")


# ------------------------------------------------- persisted winnow index


def build_winnow_index(
    docs: DataFrame,
    path: str,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the winnowed fingerprint POSTINGS of a published corpus
    — the winnow family's member of the persisted-index trio pattern
    (r13; exact/MinHash/window/sentence/paragraph each have one, the
    winnow detector was the last family without an incremental path):
    build scans the corpus once and stores the distinct (id, fp)
    selected set plus a pinned (k, w) params table, so appends and
    queries derive their selection from the INDEX contract and can
    never drift from it (the window-index n-param lesson)."""
    spark = docs.sparkSession

    def _write_fps() -> None:
        winnow_fingerprints(docs, k, w, id_col, text_col).select(
            F.col(id_col).alias("id"), "fp"
        ).distinct().write.mode("overwrite").parquet(f"{path}/fps")

    def _write_params() -> None:
        spark.createDataFrame([(k, w)], "k int, w int").write.mode(
            "overwrite"
        ).parquet(f"{path}/params")

    # independent sinks overlap (guide §2.6, r15): the metadata write's
    # driver gap hides under the fingerprint pass instead of following it
    _run_overlapped(_write_fps, _write_params)


def append_winnow_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a published batch's winnowed postings: O(batch) —
    existing index files are never read or rewritten; (k, w) come from
    the stored params. Re-appended postings land as duplicate rows
    (bytes, not correctness: the query path distincts the stored set),
    reclaimed by ``maintain_index_tier(tier="winnow")`` — the same
    append-mostly trade as every other tier."""
    spark = batch.sparkSession
    p = spark.read.parquet(f"{path}/params").head()
    winnow_fingerprints(
        batch, int(p.k), int(p.w), id_col, text_col
    ).select(F.col(id_col).alias("id"), "fp").distinct().write.mode(
        "append"
    ).parquet(f"{path}/fps")


def winnow_index_pairs(
    spark,
    new_docs: DataFrame,
    path: str,
    min_shared: int = 2,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnow near-dup pairs TOUCHING a new batch, against a persisted
    winnow index — the incremental twin of :func:`winnow_overlap_pairs`
    (the MinHash-index contract applied to the MOSS detector): batch
    fingerprints are computed fresh at the STORED (k, w); the result
    equals the full rebuild's pairs over corpus ∪ batch restricted to
    pairs with ≥ 1 batch member (proven by test and by the SQL oracle —
    the stop-fingerprint df is computed over the UNION, exactly as the
    direct path would see it). Ids must be unique across index and
    batch (same contract as ``dedup_incremental``). Output:
    (id_a, id_b, n_shared), a < b.

    Scale shape: per-batch cost is O(batch) selection + LINEAR
    index-side scans — one distinct over the stored postings (replay-
    idempotency: duplicate appended rows collapse before they can
    inflate df or n_shared), one fp-keyed df aggregate, one cap join
    (both pinned ``shuffle_hash``: the cap frame is a corpus-derived
    aggregate, the Catalyst broadcast-underestimate trap). The
    QUADRATIC self-join of the direct path is gone: the pair join
    streams the capped index postings against the BROADCAST batch side
    (deliberate, like ``minhash_index_pairs`` — the batch must stay
    ≪ executor memory), and the batch-internal join is batch-sized."""
    p = spark.read.parquet(f"{path}/params").head()
    # explicit projection: streaming-maintained tiers may surface a
    # batch partition column — the contract is the columns
    idx = (
        spark.read.parquet(f"{path}/fps")
        .select("id", "fp")
        .distinct()
        .transform(tracked_persist)  # df union + the cross pair join
    )
    batch = (
        winnow_fingerprints(
            new_docs, int(p.k), int(p.w), id_col, text_col
        )
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
        .transform(tracked_persist)  # df union + cap join + both pair joins
    )
    allp = idx.unionByName(batch)
    cap = (
        allp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp")
        .transform(tracked_persist)  # filters both posting streams
    )
    kept_idx = idx.join(cap.hint("shuffle_hash"), "fp")
    kept_batch = batch.join(cap.hint("shuffle_hash"), "fp").transform(
        tracked_persist  # broadcast pair side + both within-batch sides
    )
    a, b = kept_idx.alias("a"), F.broadcast(kept_batch).alias("b")
    cross = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
    )
    wa, wb = kept_batch.alias("a"), kept_batch.alias("b")
    within = wa.join(
        wb,
        (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    return (
        cross.unionByName(within)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def pairs_topk_bounded(
    pairs: DataFrame,
    per_doc_k: int = 10,
    score_col: str = "n_shared",
) -> DataFrame:
    """The per-doc top-k neighbor bound as a standalone policy over ANY
    canonical scored pair frame (id_a < id_b, one score column) — the
    whole set-similarity family emits this shape
    (:func:`winnow_overlap_pairs` → n_shared,
    :func:`ngram_jaccard_pairs` → jaccard, MinHash verify → est_jaccard),
    so the bound that makes the winnow stream schedulable at 100x
    (r13 soak: 22.3 M → 4.25 M pairs) applies to each of them
    unchanged. Each doc keeps its ``per_doc_k`` strongest neighbors
    (``score_col`` desc, nbr asc — a total order); a pair survives when
    EITHER endpoint ranks it, so every doc's top-k neighborhood is
    fully present even when a hub neighbor is saturated from its own
    side. Deterministic across partitionings and engines.

    Scale shape: one doc-keyed exchange over the doubled pair stream;
    the ``row_number() <= k`` filter compiles to WindowGroupLimit —
    partial per-partition limits BEFORE the exchange, so hub docs never
    materialize their full neighbor list on one task."""
    from pyspark.sql import Window

    sym = _symmetric_pairs(pairs.withColumnRenamed(score_col, "n_shared"))
    rank_w = Window.partitionBy("id").orderBy(
        F.col("n_shared").desc(), F.col("nbr").asc()
    )
    kept = sym.withColumn("_rn", F.row_number().over(rank_w)).where(
        F.col("_rn") <= per_doc_k
    )
    return kept.select(
        F.least("id", "nbr").alias("id_a"),
        F.greatest("id", "nbr").alias("id_b"),
        F.col("n_shared").alias(score_col),
    ).distinct()


def winnow_pairs_bounded(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    per_doc_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
) -> DataFrame:
    """:func:`winnow_overlap_pairs` with a DECLARATIVE output bound
    (VERDICT r12 ask 2): each document keeps only its ``per_doc_k``
    STRONGEST neighbors (n_shared desc, then nbr asc — a total order,
    so the survivor set is deterministic across partitionings and
    engines), and a pair survives when EITHER endpoint ranks it — so
    every document's top-k neighborhood is fully present even when a
    hub neighbor is saturated from its own side.

    Why: at 100x the full pair stream is irreducible TRUE output
    (22.3 M pairs, r12 soak) — the wall-clock IS the output volume.
    Downstream schedules (clustering, canonical selection) only need
    each doc's strongest edges; this caps what is emitted/persisted at
    ≤ ``per_doc_k`` per doc while :func:`winnow_bounded_report` prices
    exactly what the cap truncated (no silent caps).

    Scale shape: everything up to the pair aggregation is
    :func:`winnow_overlap_pairs` unchanged; the bound adds ONE
    doc-keyed exchange over the doubled pair stream. The rank filter
    is ``row_number() <= k`` over a fixed window, which Spark's
    WindowGroupLimit rewrite turns into partial per-partition limits
    BEFORE the exchange — hub docs never materialize their full
    neighbor list on one task."""
    return pairs_topk_bounded(
        winnow_overlap_pairs(
            docs, k, w, min_shared, max_df, id_col, text_col,
            max_df_tiers, max_dropped_mils,
        ),
        per_doc_k,
        "n_shared",
    )


def winnow_bounded_report(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    per_doc_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
) -> DataFrame:
    """Truncation pricing for :func:`winnow_pairs_bounded` — the cap-
    report pattern applied to the per-doc neighbor bound: ONE row
    saying exactly what the ``per_doc_k`` cap cost at these settings —

        (per_doc_k, n_pairs_full, n_pairs_kept, truncated_pairs,
         truncated_mils, n_docs_paired, docs_truncated, max_degree)

    ``truncated_mils`` is the share of true pairs the bound dropped —
    the number a schedule compares against its recall budget before
    trusting the bounded stream; ``docs_truncated`` / ``max_degree``
    localize WHERE the truncation lives (a few hub cliques vs broad
    mass). All counts are integers — bit-reproducible.

    Scale shape: the pair aggregation runs once (persisted — three
    readers), then two metadata-scale aggregates and the bounded
    keep's count; no collect, no new corpus pass."""
    from pyspark.sql import Window

    pairs = winnow_overlap_pairs(
        docs, k, w, min_shared, max_df, id_col, text_col,
        max_df_tiers, max_dropped_mils,
    ).transform(tracked_persist)  # full count + degrees + bounded keep
    sym = _symmetric_pairs(pairs)
    full_cnt = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs_full")
    )
    deg_stats = (
        sym.groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_paired"),
            F.coalesce(
                F.sum(F.when(F.col("deg") > per_doc_k, 1).otherwise(0)),
                F.lit(0),  # empty pair stream: 0, never NULL
            ).cast("long").alias("docs_truncated"),
            F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias(
                "max_degree"
            ),
        )
    )
    rank_w = Window.partitionBy("id").orderBy(
        F.col("n_shared").desc(), F.col("nbr").asc()
    )
    kept_cnt = (
        sym.withColumn("_rn", F.row_number().over(rank_w))
        .where(F.col("_rn") <= per_doc_k)
        .select(
            F.least("id", "nbr").alias("id_a"),
            F.greatest("id", "nbr").alias("id_b"),
        )
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs_kept"))
    )
    return (
        full_cnt.crossJoin(F.broadcast(kept_cnt))
        .crossJoin(F.broadcast(deg_stats))
        .select(
            F.lit(int(per_doc_k)).cast("long").alias("per_doc_k"),
            "n_pairs_full",
            "n_pairs_kept",
            (F.col("n_pairs_full") - F.col("n_pairs_kept")).alias(
                "truncated_pairs"
            ),
            F.expr(
                "CASE WHEN n_pairs_full = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (n_pairs_full - n_pairs_kept) * 1000"
                " DIV n_pairs_full END"
            ).alias("truncated_mils"),
            "n_docs_paired",
            "docs_truncated",
            "max_degree",
        )
    )


def winnow_bounded_report_estimate(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    per_doc_k: int = 10,
    sample_inv: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
) -> DataFrame:
    """AFFORDABLE truncation pricing for :func:`winnow_pairs_bounded`
    (VERDICT r13 ask 1): the exact :func:`winnow_bounded_report` pays
    the FULL unbounded pair join to price the cap — at 100x that audit
    costs MORE than the bounded production join it audits (330.9 s vs
    244.7 s, r13 soak), which is exactly the cost profile a 100 TB
    schedule cannot accept. This is the md5-deterministic doc-sampling
    twin (the :func:`shingle_cap_recall_estimate` pattern applied to
    DOCS instead of keys): docs are sampled at rate 1/``sample_inv`` on
    the md5-40bit prefix of the doc id (reproducible in ANSI SQL,
    stable across runs/engines), ONLY pairs touching sampled docs are
    joined (~2/``sample_inv`` of the full join's slot volume), and the
    degree-derived quantities scale back up. ONE row:

        (per_doc_k, sample_inv, sampled_docs_paired, sampled_deg_sum,
         sampled_over_k_slots, sampled_max_degree, est_n_pairs_full,
         est_docs_paired, est_docs_truncated, est_truncated_pairs,
         est_truncated_mils)

    Estimator identities (all integer arithmetic, bit-reproducible):

    * ``est_n_pairs_full = sample_inv · Σ_sampled deg DIV 2`` —
      UNBIASED for the exact report's ``n_pairs_full``
      (E[Σ_sampled deg] = Σ deg / sample_inv = 2·n_pairs_full /
      sample_inv);
    * ``est_truncated_pairs = sample_inv · Σ_sampled max(deg−k, 0)
      DIV 2`` — an UPPER bound on the exact ``truncated_pairs``: a
      pair is dropped iff BOTH endpoints leave it unranked, and
      Σ max(deg−k,0) counts 2 slots per dropped pair plus 1 per
      exactly-one-ranked pair, so the halved estimate exceeds truth by
      half the exactly-one-ranked count — which vanishes as clique
      size ≫ per_doc_k, the hub regime the bound exists for
      (conservative in the safe direction for a recall budget, the
      same honesty posture as ``shingle_cap_recall_estimate``);
    * ``est_truncated_mils`` divides the two — inheriting the upper
      bias, so a schedule reading it against a truncation budget can
      only be too careful, never too confident.

    Scale shape: the winnowed/capped posting chain is
    :func:`winnow_overlap_pairs`'s head unchanged
    (``_winnow_kept_postings`` — the audit joins exactly the postings
    the production join does); the pair join's output is restricted to
    sampled-doc rows BEFORE the exchange, so cost is ~1/``sample_inv``
    of the exact report's, priced in advance by the caller. No full
    pair frame is ever materialized or persisted."""
    kept = _winnow_kept_postings(
        docs, k, w, max_df, id_col, text_col, max_df_tiers,
        max_dropped_mils,
    )
    h40 = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    sampled = kept.where(h40 % sample_inv == 0)
    # directional neighbor lists of the SAMPLED docs only: both join
    # sides are corpus-posting streams (never broadcast — the r11 pin);
    # a pair with both endpoints sampled appears under both docs, which
    # the Σdeg/2 scaling accounts for exactly
    s, o = sampled.alias("s"), kept.alias("o").hint("shuffle_hash")
    nbrs = (
        s.join(
            o,
            (F.col("s.fp") == F.col("o.fp"))
            & (F.col("s.id") != F.col("o.id")),
        )
        .groupBy(F.col("s.id").alias("id"), F.col("o.id").alias("nbr"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    degs = nbrs.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    over = F.greatest(F.col("deg") - F.lit(int(per_doc_k)), F.lit(0))
    # every sum coalesces: an un-paired (or un-sampled) corpus reports
    # zeros, never NULLs — the schedule reads this row programmatically
    stats = degs.agg(
        F.count(F.lit(1)).cast("long").alias("sampled_docs_paired"),
        F.coalesce(F.sum("deg"), F.lit(0)).cast("long").alias(
            "sampled_deg_sum"
        ),
        F.coalesce(F.sum(over), F.lit(0)).cast("long").alias(
            "sampled_over_k_slots"
        ),
        F.coalesce(
            F.sum(F.when(F.col("deg") > per_doc_k, 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("_docs_trunc"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias(
            "sampled_max_degree"
        ),
    )
    return stats.select(
        F.lit(int(per_doc_k)).cast("long").alias("per_doc_k"),
        F.lit(int(sample_inv)).cast("long").alias("sample_inv"),
        "sampled_docs_paired",
        "sampled_deg_sum",
        "sampled_over_k_slots",
        "sampled_max_degree",
        F.expr(f"sampled_deg_sum * {int(sample_inv)} DIV 2")
        .cast("long")
        .alias("est_n_pairs_full"),
        F.expr(f"sampled_docs_paired * {int(sample_inv)}")
        .cast("long")
        .alias("est_docs_paired"),
        F.expr(f"_docs_trunc * {int(sample_inv)}")
        .cast("long")
        .alias("est_docs_truncated"),
        F.expr(f"sampled_over_k_slots * {int(sample_inv)} DIV 2")
        .cast("long")
        .alias("est_truncated_pairs"),
        F.expr(
            f"CASE WHEN sampled_deg_sum = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (sampled_over_k_slots * {int(sample_inv)} DIV 2)"
            f" * 1000"
            f" DIV (sampled_deg_sum * {int(sample_inv)} DIV 2) END"
        ).alias("est_truncated_mils"),
    )


# ---------------------------------------------------------------- exact


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by a 256-bit hash of the normalized text, keep the
    smallest id. One shuffle on the (short, well-distributed) hash key —
    at 100 TB this is the cheapest possible dedup: the full text never
    shuffles, only (hash, id)."""
    hashed = docs.select(
        F.col(id_col), F.sha2(normalized_text(text_col), 256).alias("h")
    )
    return (
        hashed.groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def build_exact_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Persist the DISTINCT normalized-text hash set of an
    already-published corpus — the EXACT family's member of the
    persisted-index trio pattern (MinHash signatures, window hashes,
    paragraph/sentence spans, now whole-document hashes): build scans
    the corpus once; every future ingest batch exact-dedups against
    the stored 32-byte keys without re-reading any published text."""
    docs.select(
        F.sha2(normalized_text(text_col), 256).alias("h")
    ).distinct().write.mode("overwrite").parquet(f"{path}/hashes")


def append_exact_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Append a published batch's distinct document hashes: O(batch) —
    existing index files are never read or rewritten. Re-appended
    hashes land as duplicate rows (bytes, not correctness: the dedup
    join is an anti join), reclaimed by periodic compaction — the same
    append-mostly trade as every other index tier."""
    batch.select(
        F.sha2(normalized_text(text_col), 256).alias("h")
    ).distinct().write.mode("append").parquet(f"{path}/hashes")


def dedup_exact_incremental(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup an ingest batch against a PERSISTED document-hash
    index — the daily-ingest posture of :func:`dedup_exact`: a batch
    doc whose normalized text is already published drops entirely (the
    INDEX side always wins); among batch-fresh texts the smallest id
    keeps. Returns the same (keep_id, n_dups) contract as the direct
    path, with ``n_dups`` counting BATCH occurrences. When the indexed
    corpus's ids precede the batch's, the output is IDENTICAL to the
    direct path over corpus ∪ batch restricted to batch-side keepers
    (pinned by test and by the shared contract oracle — a group with
    any published member has a corpus keeper, so exactly the
    batch-fresh groups survive, and their full-group counts ARE their
    batch counts).

    Scale shape: per-batch cost is O(batch + one index-hash scan) —
    one anti join on the 32-byte key, pinned ``shuffle_hash`` (the
    index side is unbounded; the usual Catalyst broadcast-
    underestimate trap), then the direct path's single hash-keyed
    aggregate. Published text is never re-read."""
    idx = spark.read.parquet(f"{path}/hashes").distinct()
    hashed = batch.select(
        F.col(id_col), F.sha2(normalized_text(text_col), 256).alias("_h")
    )
    fresh = hashed.join(
        idx.hint("shuffle_hash"), hashed["_h"] == idx["h"], "left_anti"
    )
    return (
        fresh.groupBy("_h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("keep_id", "n_dups")
    )


def dedup_urls(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup — the FIRST dedup stage of every web-crawl
    pipeline (CCNet and FineWeb both deduplicate exact URLs before any
    content pass, because a crawler re-fetches the same page across
    snapshots far more often than distinct pages share text): group by
    the CANONICAL form of the URL (case-folded host, tracking params
    scrubbed, fragment dropped — :func:`functions.urls.canonicalize_url`,
    so ``?utm_source=`` variants of one page collapse), keep the
    smallest id. Returns (``canon_url``, ``keep_id``, ``n_dups``) — the
    same keeper contract as :func:`dedup_exact`.

    Scale shape: identical to ``dedup_exact`` with the canonical URL as
    the key — one shuffle of (canon_url, id); page CONTENT never moves,
    which is the whole point of running the URL pass first (it shrinks
    the corpus before any text ever shuffles)."""
    from hadoop_invertedindexer_spark.functions.urls import canonicalize_url

    keyed = docs.select(
        F.col(id_col), canonicalize_url(F.col(url_col)).alias("canon_url")
    )
    return keyed.groupBy("canon_url").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: admit only new-batch documents that
    duplicate neither the existing corpus nor an earlier row of the same
    batch. The corpus side reduces to its distinct content hashes before
    the anti-join, so cost is O(new + corpus-hash-scan) per batch — the
    corpus is never re-paired against itself (the property that makes
    daily ingestion against a 100 TB store affordable; same shape as
    ``merge_term_doc_counts`` for the index and ``maintain_hourly_tier``
    for rollups). Returns the admitted rows of ``new_docs``.
    """
    from pyspark.sql import Window

    h = F.sha2(normalized_text(text_col), 256)
    new_keyed = new_docs.withColumn("_h", h)
    corpus_hashes = corpus.select(h.alias("_h")).distinct()
    fresh = new_keyed.join(corpus_hashes, "_h", "left_anti")
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


# --------------------------------------------------------- n-gram Jaccard


def _doc_shingles(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """Distinct (id, sh) doc-shingle postings, shingles hashed to
    xxhash64 longs — the raw material of the set-similarity family.
    Callers persist (every consumer reads it at least twice).
    explode_OUTER (r14): the non-outer generator made Catalyst infer
    `size(shingles) > 0` and push it to the scan, re-evaluating the
    whole shingle expression twice more in the single-task scan stage
    (below even the spread exchange — the filter references only the
    text column); word_ngrams never yields an empty/null array, so the
    outer form is row-identical."""
    return (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            # array_distinct BEFORE the explode (r15): id is constant per
            # input row, so per-doc string dedup == the old global
            # (id, sh) .distinct() — but in-place in the scan stage,
            # where the distinct was a full exchange of the posting
            # frame. (Equal modulo an intra-doc xxhash64 collision,
            # which the md5/xxhash contract already accepts and the
            # DuckDB oracle — which counts distinct STRINGS — would
            # have caught under the old post-hash dedup too.)
            F.explode_outer(
                F.array_distinct(word_ngrams(text_col, n))
            ).alias("sh_str"),
        )
        # null guard on the GENERATED attribute (r15, ADVICE r14): a
        # NULL-text doc makes word_ngrams NULL and the outer generator
        # would emit a NULL shingle whose xxhash64 collapses to the
        # seed, pairing every NULL-text doc with every other; non-null
        # text never yields NULL shingles, so this drops nothing today
        # and keeps the equivalence independent of size-of-null
        # semantics. Cannot be pushed below the Generate.
        .where(F.col("sh_str").isNotNull())
        .select("id", F.xxhash64("sh_str").alias("sh"))
    )


def _choose_df_cap(
    dfc: DataFrame, tiers: tuple[int, ...], max_dropped_mils: int
) -> DataFrame:
    """Tiered-cap escalation chooser (r12): a ONE-ROW (cap) frame — the
    first (smallest) tier whose dropped-mass share is acceptable, else
    the last tier. ``dfc`` is the per-key document-frequency frame; a
    key with df > cap drops all df of its postings, so per tier the
    dropped-mass mils = sum(df · [df > cap]) · 1000 DIV sum(df), which
    is MONOTONE non-increasing in cap — the first qualifying tier is
    min(qualifying cap). Fully declarative (the probe is an aggregate
    in the same plan, never a driver-side action): the key-scale df
    frame fans out over the broadcast tier list (a handful of rows),
    reduces to one row per tier, and coalesces to the chosen cap.

    Escalation is the recall-for-boundedness dial the fixed cap lacks:
    when the corpus is so repetitive that the base cap silently drops
    most of the mass (the 30x soak saturation — 26,530 capped keys,
    0 output pairs), bounded retry tiers buy the recall back at a cost
    the caller chose in advance; the LAST tier is the hard fanout bound
    a 100 TB run still needs."""
    spark = dfc.sparkSession
    tier_rows = spark.createDataFrame(
        [(int(c),) for c in tiers], "cap LONG"
    )
    per = (
        dfc.crossJoin(F.broadcast(tier_rows))
        .groupBy("cap")
        .agg(
            F.sum(
                F.when(F.col("df") > F.col("cap"), F.col("df")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("dropped"),
            F.sum("df").cast("long").alias("total"),
        )
    )
    return per.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.expr(
                        f"dropped * 1000 DIV total <= {int(max_dropped_mils)}"
                    ),
                    F.col("cap"),
                )
            ),
            F.max("cap"),
        ).alias("cap")
    )


def _shingle_intersections(
    docs: DataFrame,
    n: int,
    max_df: int,
    id_col: str,
    text_col: str,
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
):
    """(inter, sizes): pairwise shared-distinct-shingle counts (id_a <
    id_b) and per-doc distinct-shingle sizes — the shared head of the
    set-similarity family (Jaccard, containment).

    Shingles shuffle as xxhash64 longs, not ~(3·word) strings: every
    downstream exchange/join key is 8 bytes (measured ~20% faster warm
    locally; at scale the win is shuffle bytes). A 64-bit collision
    would need ~2^32 distinct shingles per corpus to become likely.
    ``max_df`` drops stop-shingles — the fanout bound that keeps the
    self-join linear-ish at scale. With ``max_df_tiers`` the fixed cap
    becomes the tiered-escalation chooser (:func:`_choose_df_cap`):
    the smallest tier keeping the dropped-postings mass within
    ``max_dropped_mils`` wins (``max_df`` is ignored — make the first
    tier equal to it for the base behavior)."""
    sh = _doc_shingles(docs, n, id_col, text_col).transform(
        tracked_persist  # read by sizes, the df-cap, and both join sides
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # shuffle_hash pins on BOTH unbounded-side joins (r11, verified by
    # the 30x pair soak where Catalyst broadcast these instead): df_cap
    # is a corpus-derived AGGREGATE, exactly where Catalyst's size
    # under-estimates are broadcast-prone (the r4 OOM lesson), and the
    # self-join sides are the capped corpus shingle stream itself —
    # neither may ever be collected to the driver at 100 TB
    # sh_kept persists (r14): the pair self-join reads it on BOTH sides
    # — without the persist the cap-filter join ran once per side; with
    # it both sides share one cached fp-hash-partitioned frame and the
    # self-join adds no exchange
    if max_df_tiers is None:
        df_cap = sh.groupBy("sh").agg(
            F.count(F.lit(1)).alias("df")
        ).where(F.col("df") <= max_df)
        sh_kept = sh.join(
            df_cap.select("sh").hint("shuffle_hash"), "sh"
        ).transform(tracked_persist)
    else:
        # per-key df feeds BOTH the tier chooser and the filter join —
        # persist so the posting scan doesn't run twice; the chosen cap
        # is one row and rides a broadcast nested-loop (never a BHJ of
        # corpus data)
        dfc = sh.groupBy("sh").agg(
            F.count(F.lit(1)).alias("df")
        ).transform(tracked_persist)
        chosen = _choose_df_cap(dfc, max_df_tiers, max_dropped_mils)
        sh_kept = (
            sh.join(dfc.hint("shuffle_hash"), "sh")
            .crossJoin(F.broadcast(chosen))
            .where(F.col("df") <= F.col("cap"))
            .select("sh", "id")
            .transform(tracked_persist)
        )
    # Measured alternative (sf0.1): collect_list per shingle + nested
    # transform/flatten combination explode has one fewer shuffle but runs
    # 3x SLOWER — higher-order array functions are interpreted, while this
    # self-join + groupBy stays in whole-stage codegen. Keep the join.
    a, b = sh_kept.alias("a"), sh_kept.alias("b").hint("shuffle_hash")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted join.

    |A∩B| comes from counting shared distinct shingles, |A∪B| = |A|+|B|-∩.
    ``max_df`` drops shingles occurring in more than that many docs
    (stop-shingles) — the fanout bound that keeps the self-join linear-ish
    at scale; dropped shingles can only lower recall, never precision.

    Precondition: one input row per ``id_col`` value. Shingles are
    de-duplicated per row, not per id, so an id on several rows counts
    a shingle it repeats across them more than once, in ``|A|`` and in
    ``|A∩B|``, and its scores are wrong. Not checked here: the check
    would cost a shuffle of the doc stream.
    """
    inter, sizes = _shingle_intersections(docs, n, max_df, id_col, text_col)
    # per-doc size frames are unbounded too (one row per document) —
    # same shuffle_hash posture as the shingle joins
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_tiers: tuple[int, ...] | None = None,
    max_dropped_mils: int = 50,
) -> DataFrame:
    """Directional n-gram CONTAINMENT near-dup pairs (Broder 1997's
    second resemblance measure): containment(A→B) = |A∩B| / |A| — the
    subset detector Jaccard structurally misses. A document fully
    embedded in a 10× larger one scores Jaccard ≈ 0.1 (invisible at any
    sane threshold) but containment 1.0; crawl corpora are full of
    exactly this shape (an article quoted whole inside an aggregator
    page, a README embedded in a bundle). Returns one row per passing
    DIRECTION: (``id_sub``, ``id_super``, ``containment`` round(6)) —
    the sub side is the document whose shingles are covered.

    Scale shape: identical to :func:`ngram_jaccard_pairs` — the shared
    ``_shingle_intersections`` head (8-byte shingle keys, ``max_df``
    stop-shingle fanout cap, one codegen self-join) plus two size joins;
    the direction split is a projection, not another pass. Pass
    ``max_df_tiers`` (e.g. ``(100, 400, 1600)``) to replace the fixed
    cap with tiered escalation: the smallest tier keeping the dropped
    posting mass within ``max_dropped_mils`` wins — the r11 30x soak's
    silent saturation (every shared shingle capped, 0 output pairs)
    becomes a bounded, caller-priced recall retry, with the last tier
    still the hard fanout bound. :func:`shingle_cap_report` is the
    observability twin that says whether the cap is biting.

    Precondition: one input row per ``id_col`` value, as for
    :func:`ngram_jaccard_pairs` (shingles are de-duplicated per row)."""
    inter, sizes = _shingle_intersections(
        docs, n, max_df, id_col, text_col, max_df_tiers, max_dropped_mils
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    scored = inter.join(sa.hint("shuffle_hash"), "id_a").join(
        sb.hint("shuffle_hash"), "id_b"
    )
    ab = scored.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
    )
    ba = scored.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        F.round(F.col("inter") / F.col("sz_b"), 6).alias("containment"),
    )
    return ab.unionByName(ba).where(F.col("containment") >= threshold)


def _cap_report(keyed: DataFrame, key_col: str, max_df: int) -> DataFrame:
    """Shared cap-hit rollup: one row over a distinct (id, key) posting
    frame — (max_df, n_keys, capped_keys, capped_key_mils, n_postings,
    dropped_postings, dropped_mass_mils). All counts are hash-invariant
    (xxhash64/md5 keys are injective modulo 64-bit collisions), so the
    SQL twins count the raw strings and match."""
    dfc = keyed.groupBy(key_col).agg(F.count(F.lit(1)).alias("df"))
    capped = F.col("df") > max_df
    return dfc.agg(
        F.lit(int(max_df)).cast("long").alias("max_df"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(capped, 1).otherwise(0)).cast("long").alias("capped_keys"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum(F.when(capped, F.col("df")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dropped_postings"),
    ).select(
        "max_df",
        "n_keys",
        "capped_keys",
        F.expr(
            "CASE WHEN n_keys = 0 THEN CAST(0 AS BIGINT)"
            " ELSE capped_keys * 1000 DIV n_keys END"
        ).alias("capped_key_mils"),
        "n_postings",
        "dropped_postings",
        F.expr(
            "CASE WHEN n_postings = 0 THEN CAST(0 AS BIGINT)"
            " ELSE dropped_postings * 1000 DIV n_postings END"
        ).alias("dropped_mass_mils"),
    )


def shingle_cap_report(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cap-hit observability for the set-similarity family (r12 — the
    index_tier_stats pattern applied to the ``max_df`` stop-shingle
    cap): one row saying exactly how hard the cap would bite a
    :func:`ngram_jaccard_pairs` / :func:`containment_pairs` run at the
    same (n, max_df) — (max_df, n_keys, capped_keys, capped_key_mils,
    n_postings, dropped_postings, dropped_mass_mils). The r11 30x soak
    showed WHY this must be first-class: on a repetitive corpus the cap
    silently dropped 26,530 keys and the pair output collapsed to ZERO
    — a user reading only the pair frame sees "no near-dups", not
    "the detector went blind". dropped_mass_mils is the number a
    schedule compares against its recall budget before trusting a pair
    run (and the same number the tiered-cap escalation bounds).

    Scale shape: the posting frame's per-key df plus one global
    aggregate — strictly cheaper than the pair join it audits; no
    self-join, no text shuffle, divisions guarded for empty corpora."""
    sh = _doc_shingles(docs, n, id_col, text_col)
    return _cap_report(sh, "sh", max_df)


def winnow_cap_report(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cap-hit observability for :func:`winnow_overlap_pairs` — the
    same one-row report as :func:`shingle_cap_report`, computed over
    the WINNOWED fingerprint postings (distinct (id, fp) at the same
    k, w) so the numbers audit exactly the join the pair detector
    runs. Fingerprints are md5-40-bit derived, so the report is fully
    oracle-checkable, selection step included."""
    fps = (
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
    )
    return _cap_report(fps, "fp", max_df)


def shingle_cap_recall_estimate(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 100,
    sample_inv: int = 8,
    expand_max_df: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Estimated-PAIRS cost of the ``max_df`` stop-shingle cap (VERDICT
    r12 ask 4): :func:`shingle_cap_report` prices the cap in dropped
    posting MASS; this one prices it in the unit a recall budget is
    written in — pairs. ONE row:

        (max_df, sample_inv, expand_max_df, capped_keys, sampled_keys,
         expanded_keys, mega_keys, sampled_pairs_distinct,
         mega_pair_slots, est_capped_pairs, capped_pair_slots_exact)

    Estimator: capped keys are sampled DETERMINISTICALLY at rate
    1/``sample_inv`` on the md5-40bit prefix of the raw shingle string
    (``h40 % sample_inv == 0`` — reproducible in ANSI SQL, stable
    across runs/engines). Sampled keys with df ≤ ``expand_max_df`` are
    EXPANDED — their postings self-joined and the DISTINCT co-occurring
    pairs counted (the cross-key dedup a closed form cannot see);
    sampled keys above it (mega keys: df² expansion rows would be the
    very blow-up the cap exists to prevent) contribute their exact
    per-key pair count df·(df−1)/2 unexpanded.
    ``est_capped_pairs = sample_inv · (sampled_pairs_distinct +
    mega_pair_slots)`` — all integer arithmetic, bit-reproducible.

    Honesty notes, in the docstring because a schedule will read this
    number: (1) it estimates pairs co-occurring under CAPPED keys — an
    UPPER bound on truly missed pairs, since a pair that also shares an
    un-capped shingle still surfaces (conservative in the safe
    direction for a recall budget); (2) cross-key dedup happens within
    the sample only, and mega keys skip it entirely — both again bias
    upward; (3) ``capped_pair_slots_exact`` = Σ df·(df−1)/2 over ALL
    capped keys is the exact closed-form ceiling, no sampling at all.

    Scale shape: one shingle pass, one df aggregate, and a self-join
    bounded by ``sample_inv`` × ``expand_max_df``² per expanded key —
    the caller prices the audit in advance, unlike the un-capped pair
    join it audits."""
    sh = (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(word_ngrams(text_col, n)).alias("sh_str"),
        )
        .where(F.col("sh_str").isNotNull())  # r15 NULL-text guard, see _doc_shingles
        .distinct()
        .transform(tracked_persist)  # df aggregate + sampled expansion
    )
    h40 = F.conv(F.substring(F.md5("sh_str"), 1, 10), 16, 10).cast("long")
    return _cap_recall_core(
        sh, "sh_str", h40, max_df, sample_inv, expand_max_df
    )


def winnow_cap_recall_estimate(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 100,
    sample_inv: int = 8,
    expand_max_df: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The estimated-missed-pairs audit for the WINNOW side (r13, the
    :func:`shingle_cap_recall_estimate` core over the MOSS-selected
    fingerprint postings at (k, w)) — auditing exactly the join
    :func:`winnow_overlap_pairs` / :func:`winnow_index_pairs` run.
    The sampling bucket is the fingerprint ITSELF (already the
    md5-40bit prefix of the selected k-gram — deterministic and
    oracle-reproducible, selection step included). Same one-row
    schema, same estimator honesty notes as the shingle twin."""
    fps = (
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
        .transform(tracked_persist)  # df aggregate + sampled expansion
    )
    return _cap_recall_core(
        fps, "fp", F.col("fp"), max_df, sample_inv, expand_max_df
    )


def _cap_recall_core(
    keyed: DataFrame,
    key_col: str,
    bucket,
    max_df: int,
    sample_inv: int,
    expand_max_df: int,
) -> DataFrame:
    """Shared estimated-missed-pairs rollup over a DISTINCT (id, key)
    posting frame (caller persists — the df aggregate and the sampled
    expansion both read it). ``bucket`` is the deterministic md5-derived
    long whose ``% sample_inv`` decides membership in the sample."""
    dfc = (
        keyed.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .select(key_col, "df", bucket.alias("h40"))
        .where(F.col("df") > max_df)
        .transform(tracked_persist)  # exact stats + two sample branches
    )
    slots = F.expr("df * (df - 1) DIV 2")
    sampled = F.col("h40") % sample_inv == 0
    # every sum coalesces: an un-capped corpus makes dfc EMPTY and a
    # bare sum would report NULL where the schedule expects 0
    exact_stats = dfc.agg(
        F.count(F.lit(1)).cast("long").alias("capped_keys"),
        F.coalesce(F.sum(slots), F.lit(0)).cast("long").alias(
            "capped_pair_slots_exact"
        ),
        F.coalesce(
            F.sum(F.when(sampled, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("sampled_keys"),
        F.coalesce(
            F.sum(
                F.when(
                    sampled & (F.col("df") <= expand_max_df), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("expanded_keys"),
        F.coalesce(
            F.sum(
                F.when(
                    sampled & (F.col("df") > expand_max_df), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("mega_keys"),
        F.coalesce(
            F.sum(
                F.when(sampled & (F.col("df") > expand_max_df), slots)
            ),
            F.lit(0),
        ).cast("long").alias("mega_pair_slots"),
    )
    # shuffle_hash pins: the expandable-key frame is a corpus-derived
    # aggregate (the Catalyst broadcast-underestimate trap) and both
    # self-join sides are corpus postings — never broadcast
    expandable = dfc.where(sampled & (F.col("df") <= expand_max_df)).select(
        key_col
    )
    kp = keyed.join(expandable.hint("shuffle_hash"), key_col)
    a, b = kp.alias("a"), kp.alias("b").hint("shuffle_hash")
    sampled_pairs = (
        a.join(
            b,
            (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("sampled_pairs_distinct"))
    )
    return exact_stats.crossJoin(F.broadcast(sampled_pairs)).select(
        F.lit(int(max_df)).cast("long").alias("max_df"),
        F.lit(int(sample_inv)).cast("long").alias("sample_inv"),
        F.lit(int(expand_max_df)).cast("long").alias("expand_max_df"),
        "capped_keys",
        "sampled_keys",
        "expanded_keys",
        "mega_keys",
        "sampled_pairs_distinct",
        "mega_pair_slots",
        (
            F.lit(int(sample_inv))
            * (F.col("sampled_pairs_distinct") + F.col("mega_pair_slots"))
        ).cast("long").alias("est_capped_pairs"),
        "capped_pair_slots_exact",
    )


def contamination(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: train docs sharing at least one word
    n-gram with the eval set, with the count of distinct shared shingles
    (the evidence strength a removal decision is based on).

    Same inverted-join skeleton as :func:`ngram_jaccard_pairs` — shingles
    shuffle as xxhash64 longs — but the eval side is first reduced to its
    distinct shingle set. At 100 TB the eval set (benchmarks are ~MBs) is
    tiny, so the semi-style join broadcasts: the train shingle stream
    never shuffles, making decontamination a map-side scan-and-filter.
    """
    tr = (
        _spread(train, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(word_ngrams(text_col, n)).alias("sh_str"),
        )
        .where(F.col("sh_str").isNotNull())  # r15 NULL-text guard, see _doc_shingles
        .select("id", F.xxhash64("sh_str").alias("sh"))
        .distinct()
    )
    ev = F.broadcast(
        evalset.select(F.explode_outer(word_ngrams(text_col, n)).alias("sh_str"))
        .where(F.col("sh_str").isNotNull())  # r15 NULL-text guard
        .select(F.xxhash64("sh_str").alias("sh"))
        .distinct()
    )
    return (
        tr.join(ev, "sh")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ----------------------------------------------------------- MinHash LSH


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    spread_col: str | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) — min over shingles of
    ``xxhash64(shingle_hash, seed_i)`` per permutation. 64 parallel min
    aggregates in one pass, fully JVM-side; the classic one-hash-per-perm
    MinHash (Broder '97) without any UDF. Shingles collapse to a 64-bit
    pre-hash before anything shuffles: the distinct and groupBy exchanges
    move 8-byte keys, and the num_perm per-permutation hashes each run
    over a long instead of re-hashing the full string (double hashing is
    still uniform, which is all MinHash needs).

    ``portable=True`` swaps the per-permutation hash for the md5-60-bit
    construction (``conv(substr(md5(seed|shingle), 1, 15), 16, 10)``)
    that DuckDB reproduces bit-for-bit — the oracle-checkable twin of
    the xxhash64 scale path. Measured at sf0.1: ~1.3x warm wall clock
    (3-4x on first run — codegen of 64 md5 expressions), and the
    shuffle keys stay full shingle strings instead of 8-byte longs;
    use it to VERIFY the algorithm, prefer the default to run it.

    ``spread_col`` overrides the pre-explode repartition key (default
    ``id_col``): when ``id_col`` is LOW-cardinality — source_overlap
    groups by SOURCE — spreading by it would pack the corpus into
    n_distinct partitions and serialize the CPU-heavy shingle explode
    onto that many cores; pass a fine-grained column (the doc id) so
    parallelism stays full-width while the signature still groups by
    ``id_col``."""
    sh = (
        _spread(docs, spread_col or id_col)
        # explode_OUTER: see _doc_shingles — stops the inferred
        # size()>0 filter from re-running the shingle expression at the
        # scan; word_ngrams of non-null text is never empty/null, and
        # the r15 null guard restores the inner-explode row set for
        # NULL-text docs (ADVICE r14).
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(word_ngrams(text_col, n)).alias("sh"),
        )
        .where(F.col("sh").isNotNull())
    )
    if portable:
        sh = sh.distinct()
        mins = [
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.lit(str(i)), F.col("sh"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("bigint")
            ).alias(f"m{i}")
            for i in range(num_perm)
        ]
    else:
        sh = sh.select("id", F.xxhash64("sh").alias("shh")).distinct()
        mins = [
            F.min(F.xxhash64(F.col("shh"), F.lit(i))).alias(f"m{i}")
            for i in range(num_perm)
        ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def _banded_signatures(
    sig: DataFrame, bands: int, rows_per_band: int, portable: bool
) -> DataFrame:
    """(id, band, bh) banded LSH keys from a (id, sig) signature frame.
    The fast path hashes each band to an 8-byte join key; the portable
    path keeps the raw comma-joined string (SQL-reproducible). Single
    source of truth for the band-key encoding — shared by the in-memory
    pair search and the persisted-index incremental path, so index and
    batch always agree."""

    def band_key(bi):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return joined if portable else F.xxhash64(joined)

    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), band_key(bi).alias("bh")),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_band_report(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Banding observability for the MinHash-LSH family (r12) — the
    :func:`shingle_cap_report` pattern applied to the third dedup join
    family: one row saying exactly what the band join would cost a
    :func:`minhash_lsh_pairs` run at the same (num_perm, bands, n)
    before anyone pays for it —

        (n_docs, num_perm, bands, n_band_keys, colliding_keys,
         max_bucket, band_collisions, candidate_pairs,
         candidates_per_doc_mils)

    ``band_collisions`` = Σ C(bucket, 2) is the raw band fanout;
    ``candidate_pairs`` is what survives the pair-scale distinct — the
    exact input size of the estimate join, and the number whose
    growth-under-duplication is the scale soaks' "LSH candidates track
    TRUE near-dup density, never corpus²" claim (SCALE.md) made
    readable per-run. ``candidates_per_doc_mils`` is the density
    signal a schedule compares against its budget: replica-heavy
    corpora push it toward bands·C(density,2)-shaped blowup, and a
    caller seeing it spike re-tunes bands/rows (fewer, wider bands cut
    collision fanout quadratically) BEFORE running the estimate join.

    Cost: the signature pass + the band self-join + pair-scale
    distinct — everything :func:`minhash_lsh_pairs` pays EXCEPT the
    signature re-attach and per-pair estimates (on dup-heavy corpora
    the majority term). Self-join sides pin shuffle_hash (corpus-scale
    frames, the family posture); the one-row aggregates meet in
    broadcast cross joins. Divisions are guarded for empty corpora.
    ``portable=True`` selects the md5-60-bit hashes so the whole report
    is oracle-checkable."""
    sig = minhash_signatures(
        docs, num_perm, n, id_col, text_col, portable=portable
    )
    banded = _banded_signatures(
        sig, bands, num_perm // bands, portable
    ).transform(tracked_persist)  # read by buckets + both join sides
    bstats = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bn"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_band_keys"),
            # coalesce: SUM/MAX over an EMPTY bucket frame are NULL —
            # an empty corpus must report zeros, not NULLs (the
            # index_tier_stats comparability rule)
            F.coalesce(
                F.sum(F.when(F.col("bn") > 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("colliding_keys"),
            F.coalesce(F.max("bn"), F.lit(0))
            .cast("long")
            .alias("max_bucket"),
            F.coalesce(F.sum(F.expr("bn * (bn - 1) DIV 2")), F.lit(0))
            .cast("long")
            .alias("band_collisions"),
        )
    )
    a = banded.alias("a")
    b = banded.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("candidate_pairs"))
    )
    ndocs = banded.agg(
        F.countDistinct("id").cast("long").alias("n_docs")
    )
    return (
        ndocs.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(cand))
        .select(
            "n_docs",
            F.lit(int(num_perm)).cast("long").alias("num_perm"),
            F.lit(int(bands)).cast("long").alias("bands"),
            "n_band_keys",
            "colliding_keys",
            "max_bucket",
            "band_collisions",
            "candidate_pairs",
            F.expr(
                "CASE WHEN n_docs = 0 THEN CAST(0 AS BIGINT)"
                " ELSE candidate_pairs * 1000 DIV n_docs END"
            ).alias("candidates_per_doc_mils"),
        )
    )


def _estimate_pairs(
    cand: DataFrame, sigs: DataFrame, num_perm: int, threshold: float
) -> DataFrame:
    """Attach signatures to unique candidate pairs and keep those whose
    positional-equality Jaccard estimate clears the threshold."""
    cand = (
        cand.join(
            sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
            )
        )
        / F.lit(float(num_perm)),
        6,
    )
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Banded-LSH candidate pairs + signature-estimated Jaccard.

    bands=16 over 64 perms → rows/band=4; candidate collision prob at
    jaccard s is 1-(1-s^4)^16 (S-curve knee ≈ 0.5). Candidates come from
    an equi-join on (band index, band hash) — bucket sizes, not n², bound
    the work. Estimated jaccard = fraction of equal signature positions.
    ``portable=True`` uses the md5-based signatures and a raw
    concatenated band key, making the entire pipeline reproducible in
    ANSI SQL (the oracle twin — see :func:`minhash_signatures`).
    """
    rows_per_band = num_perm // bands
    # persist: the banded self-join reads the signatures from both sides
    # and Spark will not reuse the (expensive) signature subplan otherwise.
    # At corpus scale, signatures would be written to a parquet stage
    # instead — exactly what build_minhash_index does.
    sig = minhash_signatures(
        docs, num_perm, n, id_col, text_col, portable=portable
    ).transform(tracked_persist)
    # the candidate join carries IDs ONLY: at high duplicate density every
    # true pair collides in ~all bands, so the pre-dedup candidate stream
    # is (pairs x bands) rows — shipping both 64-long signature arrays
    # through it multiplies shuffle bytes ~16x (measured on the 10x scale
    # soak, where candidates hit 3.3M). Signatures re-attach per UNIQUE
    # pair (in _estimate_pairs), after dropDuplicates has collapsed the
    # band fanout.
    banded = _banded_signatures(sig, bands, rows_per_band, portable)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _estimate_pairs(cand, sig, num_perm, threshold)


# ------------------------------------------- persisted MinHash index


def build_minhash_index(
    docs: DataFrame,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> None:
    """Materialize the MinHash-LSH state for incremental near-dup dedup:
    per-doc signatures, their banded join keys, and a one-row params
    table pinning (num_perm, bands, n, portable) so batches always hash
    identically to the index. This is the durable form of the persist()
    inside :func:`minhash_lsh_pairs` — at 100 TB the signature pass over
    the corpus runs ONCE here, and every daily batch afterwards pays
    only O(batch) signature work plus a join against these tables
    (:func:`minhash_index_pairs`), never a corpus rescan. Same tier
    pattern as streaming/index_maintenance.py and the IVF/LSH ANN
    indexes in operators/similarity.py."""
    sig = minhash_signatures(
        docs, num_perm, n, id_col, text_col, portable=portable
    ).persist()  # feeds both writes below

    def _write_signatures() -> None:
        sig.write.mode("overwrite").parquet(f"{path}/signatures")

    def _write_banded() -> None:
        _banded_signatures(
            sig, bands, num_perm // bands, portable
        ).write.mode("overwrite").parquet(f"{path}/banded")

    def _write_params() -> None:
        docs.sparkSession.createDataFrame(
            [(num_perm, bands, n, portable)],
            "num_perm int, bands int, n int, portable boolean",
        ).write.mode("overwrite").parquet(f"{path}/params")

    # independent sinks overlap (guide §2.6, r15); both signature
    # consumers share the persist (per-block locks make the concurrent
    # materialization safe), the params row rides along
    _run_overlapped(_write_signatures, _write_banded, _write_params)
    sig.unpersist()


def append_minhash_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new batch's signatures + banded keys to a persisted
    MinHash index (the admit step after :func:`minhash_index_pairs` has
    flagged the batch's near-dups). Signatures are per-doc projections,
    so nothing existing is read or rewritten — O(batch) regardless of
    index size. A replayed append (crash-retry ingest) lands duplicate
    signature/banded rows: bytes, not correctness —
    :func:`minhash_index_pairs` distincts at pair scale, and
    :func:`compact_minhash_index` reclaims the bytes."""
    spark = new_docs.sparkSession
    p = spark.read.parquet(f"{path}/params").head()
    sig = minhash_signatures(
        new_docs, p.num_perm, p.n, id_col, text_col, portable=p.portable
    ).persist()
    sig.write.mode("append").parquet(f"{path}/signatures")
    _banded_signatures(sig, p.bands, p.num_perm // p.bands, p.portable).write.mode(
        "append"
    ).parquet(f"{path}/banded")
    sig.unpersist()


def minhash_index_pairs(
    spark,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs touching a new batch, against a persisted MinHash
    index — the incremental twin of :func:`minhash_lsh_pairs`: batch
    signatures are computed fresh (O(batch)), candidates are the union of
    batch-vs-index band collisions and batch-internal ones, and the
    estimate formula is identical — so the result equals the full
    rebuild's pairs restricted to pairs with >= 1 batch member (proven by
    test, and by the SQL oracle of the portable contract twin).

    Scale shape: the batch's banded keys BROADCAST to the index side, so
    the (huge) index banded table never shuffles — each index partition
    is scanned once, hashes the tiny batch table, and emits only
    collisions. Ids must be unique across index and batch (same contract
    as dedup_incremental). Output: (id_a, id_b, est_jaccard), a < b."""
    p = spark.read.parquet(f"{path}/params").head()
    # explicit projections: a streaming-maintained index stores its tiers
    # under batch=<id> partitions (streaming/dedup_ingest.py), so the read
    # may surface an extra partition column — the contract is the columns,
    # not the layout
    idx_sigs = spark.read.parquet(f"{path}/signatures").select("id", "sig")
    idx_banded = spark.read.parquet(f"{path}/banded").select("id", "band", "bh")
    batch_sig = minhash_signatures(
        new_docs, p.num_perm, p.n, id_col, text_col, portable=p.portable
    ).transform(tracked_persist)
    batch_banded = _banded_signatures(
        batch_sig, p.bands, p.num_perm // p.bands, p.portable
    )
    a, b = idx_banded.alias("a"), F.broadcast(batch_banded).alias("b")
    cross = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
    )
    ba, bb = batch_banded.alias("a"), batch_banded.alias("b")
    within = ba.join(
        bb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    cand = cross.union(within).dropDuplicates(["id_a", "id_b"])
    sigs_all = idx_sigs.union(batch_sig)
    # final distinct at PAIR scale (tiny): a replayed append leaves
    # duplicate signature rows in the index, and each duplicate fans a
    # candidate pair out into identical (id_a, id_b, est) rows through
    # the signature joins — distinct restores replay-idempotency for
    # the cost of one output-sized shuffle, never an index-sized one
    return _estimate_pairs(cand, sigs_all, p.num_perm, threshold).distinct()


# --------------------------------------------------------------- SimHash


@pandas_udf(T.LongType())
def _simhash64(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash (Charikar '02) of a token array: per-token md5-derived
    64-bit hashes, tf-weighted bitwise majority vote. Arrow-batched; numpy
    does the bit unpacking — this is the documented slow-path exception
    (SURVEY §2B UDF policy) since a 64-way bit vote has no builtin form."""

    bit_cache: dict[str, np.ndarray] = {}  # token -> ±1 bit vector (Zipf-friendly)

    def token_bits(t: str) -> np.ndarray:
        bits = bit_cache.get(t)
        if bits is None:
            digest = hashlib.md5(t.encode("utf-8")).digest()[:8]
            bits = 2 * np.unpackbits(np.frombuffer(digest, dtype=np.uint8)).astype(
                np.int64
            ) - 1
            bit_cache[t] = bits
        return bits

    def one(toks) -> int:
        if toks is None or len(toks) == 0:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for t in toks:
            acc += token_bits(t)
        fp = int.from_bytes(np.packbits((acc > 0).astype(np.uint8)).tobytes(), "big")
        return fp - (1 << 64) if fp >= (1 << 63) else fp  # to signed long

    return tokens.apply(one)


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp: bigint) SimHash fingerprints."""
    return docs.select(
        F.col(id_col).alias("id"), _simhash64(token_array(text_col)).alias("fp")
    )


def hamming_band_pairs(fps: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(fp_a, fp_b) <= max_hamming
    over a (id, fp: bigint) fingerprint frame.

    Candidates via the pigeonhole band trick: split 64 bits into
    (max_hamming+1) bands — any pair within the distance budget must agree
    exactly on >= 1 band, so an equi-join per band finds all of them.
    Shared by SimHash text near-dup and perceptual media near-dup
    (operators/multimodal.py) — any 64-bit fingerprint family plugs in.
    """
    nbands = max_hamming + 1
    width = 64 // nbands
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.shiftrightunsigned(F.col("fp"), bi * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("piece"),
        )
        for bi in range(nbands)
    ]
    banded = fps.select(
        "id", "fp", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "fp", "b.band", "b.piece")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with hamming(fp_a, fp_b) <= max_hamming, via the
    pigeonhole band join (:func:`hamming_band_pairs`)."""
    fps = simhash_fingerprints(
        _spread(docs, id_col), id_col, text_col
    ).transform(tracked_persist)  # both band-join sides; avoids re-running the pandas UDF
    return hamming_band_pairs(fps, max_hamming)


# ------------------------------------------------- embedding near-dup


def vector_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Resolve the embedding dimensionality: caller-supplied, else probed
    from the first row (one tiny driver job — pass ``dim`` explicitly in
    hot paths). Empty input resolves to 1: the literal planes are then
    trivial and every downstream join is empty anyway, so empty-in →
    empty-out instead of a TypeError."""
    if dim is not None:
        return dim
    rows = df.select(vec_col).head(1)
    return len(rows[0][0]) if rows else 1


def lsh_bucket(
    vec_col: str,
    dim: int,
    nbits: int,
    seed: int = 42,
) -> "F.Column":
    """Random-hyperplane signature: nbits sign bits of <v, r_i>, as a
    bit-string bucket key. The planes enter the plan as a literal array
    constant — no UDF, no side table, identical on every executor.
    Single source of truth for the signature encoding (used by both the
    near-dup pair search here and the ANN top-k in similarity.py)."""
    planes = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in _hyperplanes(dim, nbits, seed)]
    )
    return F.concat_ws(
        "",
        F.transform(
            planes, lambda p: (_dot(F.col(vec_col), p) > 0).cast("int").cast("string")
        ),
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(nbits, dim)).tolist()


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# NOTE (r7 profiling): an unrolled element_at dot product (64 literal
# terms) was tried as a codegen replacement for the higher-order _dot
# fold and measured ~60% SLOWER on the O(N·C) assignment stream — the
# wide expression falls out of whole-stage codegen and interprets
# per-element with element_at overhead. The effective lever is hoisting
# the two self-dots (norms) per SIDE so each pair pays one fold, not
# three (see similarity.ivf_assign).


def cosine_expr(a, b):
    """Cosine similarity between two float-array columns (double math)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    nbits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH + exact verify.

    Sign bits of <v, r_i> for nbits gaussian hyperplanes form the bucket
    key; only same-bucket pairs get the exact cosine check. Collision
    prob for angle θ is (1-θ/π)^nbits — tight buckets at 0.95+ cosine.
    All candidate math is built-in expressions (no UDF): the hyperplanes
    enter the plan as a literal array constant (via :func:`lsh_bucket`).
    Pass ``dim`` to skip the first-row driver probe (hot paths should).
    """
    dim = vector_dim(emb, vec_col, dim)
    bucketed = (
        _spread(emb, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            lsh_bucket(vec_col, dim, nbits, seed).alias("bucket"),
        )
        .transform(tracked_persist)  # both sides of the bucket self-join
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------- boilerplate removal


def content_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 8,
    out_text_col: str | None = None,
) -> DataFrame:
    """Content-defined chunking: a token STARTS a new chunk when its
    md5-derived hash is 0 mod ``modulus``, so chunk boundaries depend
    only on content — a passage repeated in two documents at different
    offsets splits into the SAME interior chunks in both (expected chunk
    length = modulus tokens). This is the chunking trick of dedup
    storage systems (rsync/CDC), applied to text so cross-document
    duplicate passages become equi-joinable units without the O(n)
    overlapping-shingle blowup.

    Plan shape: one explode, one exchange on ``id_col`` for the running
    boundary sum; the chunk-assembly groupBy keys (id, chunk_id) but a
    doc_id hash partitioning already clusters the compound key, so
    Catalyst inserts no second exchange. Output: (id, chunk_id,
    start_ord, chunk)."""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), " ")).alias("ord", "tok"),
    ).where(F.col("tok").isNotNull())
    # ^ the outer-generator null guard (r15, ADVICE r14): split() of a
    # non-null text never yields NULL elements, so this drops nothing
    # today — but a NULL-text doc would otherwise emit a spurious
    # (ord=NULL, tok=NULL) row that the inner explode never produced.
    # The filter sits on the GENERATED attribute, so it cannot be
    # pushed below the Generate and cannot resurrect the inferred
    # scan-level filter this site was converted to avoid.
    boundary = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10).cast("int")
        % modulus
        == 0
    ).cast("int")
    w = Window.partitionBy(id_col).orderBy("ord")
    return (
        tok.withColumn("chunk_id", F.sum(boundary).over(w))
        .groupBy(id_col, "chunk_id")
        .agg(
            F.min("ord").alias("start_ord"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("chunk"),
        )
    )


def boilerplate_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 8,
    max_df: int = 30,
    threshold_distinct: bool = True,
) -> DataFrame:
    """Cross-document boilerplate removal, the CCNet line-dedup recipe
    re-targeted at unstructured text: drop every content-defined chunk
    that occurs in >= ``max_df`` distinct documents (headers, footers,
    license banners, injected templates), reassemble the survivors in
    order. The document frequency is counted over md5(chunk) — a fixed
    32-byte shuffle key — and the boilerplate hash set (df >= max_df) is
    BROADCAST back onto the chunk frame, which keeps its doc_id
    partitioning for the final reassembly groupBy: total cost is the one
    doc_id exchange plus the hash-count aggregation, and the full chunk
    text is shuffled exactly once. The broadcast assumes the boilerplate
    vocabulary (distinct frequent chunks) is small relative to the
    corpus — true by construction since each one must repeat >= max_df
    times. Output: (id, n_chunks, n_dropped, clean_text)."""
    # the chunk frame feeds both the df count and the reassembly —
    # persist so the explode+window+assembly subtree runs once, not twice
    chunks = content_chunks(docs, id_col, text_col, modulus).transform(tracked_persist)
    freq = (
        chunks.select(F.md5("chunk").alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.countDistinct(id_col).alias("df"))
        if threshold_distinct
        else chunks.select(F.md5("chunk").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )
    boiler = freq.where(F.col("df") >= max_df).select("h")
    flagged = chunks.join(
        F.broadcast(boiler), F.md5(chunks["chunk"]) == boiler["h"], "left"
    ).select(
        F.col(id_col),
        "start_ord",
        "chunk",
        F.when(F.col("h").isNotNull(), 1).otherwise(0).alias("dropped"),
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum("dropped").alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("dropped") == 0,
                            F.struct("start_ord", "chunk"),
                        )
                    )
                ),
                lambda x: x["chunk"],
            ),
        ).alias("clean_text"),
    )


# ------------------------------------------- Bloom-filter decontamination

BLOOM_M_BITS = 1 << 17  # 131072 bits = 2048 packed words = 16 KiB broadcast
BLOOM_K = 4


def _bloom_positions(sh_col, m_bits: int, k: int) -> list:
    """The ``k`` Bloom bit positions of a shingle, via Kirsch-Mitzenmacher
    double hashing over two independent md5-60bit draws: ``p_i = (h1 +
    i*h2) mod m``. Both hashes are reduced mod ``m_bits`` BEFORE the
    linear combination so no intermediate exceeds ``(k+1) * m_bits`` (no
    bigint overflow at any ``k``) and the arithmetic is restatable
    verbatim in ANSI SQL for the oracle — the same portability
    construction as the md5-60bit MinHash twin above."""

    def h60(tag: str):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(tag), sh_col)), 1, 15), 16, 10
        ).cast("bigint")

    h1 = F.pmod(h60("b1"), F.lit(m_bits))
    h2 = F.pmod(h60("b2"), F.lit(m_bits))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def build_bloom_filter(
    evalset: DataFrame,
    n: int = 3,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
) -> DataFrame:
    """One-row Bloom bitmap over the eval set's word n-grams: column
    ``bloom`` is an ``array<bigint>`` of ``m_bits/64`` packed words (2048
    elements = 16 KiB at the default) — a FIXED size regardless of how
    many shingles the eval suite contains. This is the 100 TB lever over
    :func:`contamination`'s broadcast shingle set: benchmark suites grow
    to millions of shingles, but the probe structure stays one cache-line
    -friendly array, and membership can only err toward extra drops
    (false positives), never missed contamination — the safe direction.

    Build cost: one explode + distinct over the (small) eval side, one
    2048-group aggregation, one 2048-row array assembly. All JVM-side.
    """
    ev = (
        evalset.select(F.explode_outer(word_ngrams(text_col, n)).alias("sh"))
        .where(F.col("sh").isNotNull())  # r15 NULL-text guard
        .distinct()
    )
    return bloom_bitmap(ev, "sh", m_bits, k)


def bloom_bitmap(
    keys: DataFrame, col: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Pack any (distinct) string-key column into the one-row Bloom
    bitmap: ``k`` positions per key, 64 bits per packed word, dense
    array of ``m_bits/64`` bigints. Shared by the shingle-level
    decontamination filter and the join-key runtime filter
    (``relational.bloom_filtered_join``)."""
    pos = keys.select(
        F.explode(F.array(*_bloom_positions(F.col(col), m_bits, k))).alias("p")
    )
    words = pos.select(
        (F.col("p") / 64).cast("int").alias("w"), (F.col("p") % 64).alias("bit")
    ).groupBy("w").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").alias("bits")
    )
    # densify to all m_bits/64 word slots (missing -> 0), pack to 1 row
    dense = (
        keys.sparkSession.range(m_bits // 64)
        .select(F.col("id").cast("int").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("bigint")).alias("bits"))
    )
    return dense.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))), lambda s: s["bits"]
        ).alias("bloom")
    )


def bloom_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 3,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Decontamination against a Bloom filter of the eval set's word
    n-grams: (doc_id, n_flagged) for every train doc with >= 1 distinct
    shingle whose ``k`` bit positions are ALL set in the bitmap.

    Plan shape (the part that must survive 100 TB): the train side is
    scan -> explode -> distinct -> broadcast-nested-loop join with the
    ONE-ROW bloom frame -> filter -> per-doc count. The train shingle
    stream is never multiplied by ``k`` (all k bit tests are one fused
    projection via ``element_at``/``bit_get``) and never shuffles except
    the 8-byte-key distinct and the final per-doc count. Flagged set is
    a superset of :func:`contamination`'s exact answer (Bloom false
    positives only add; ``tests/test_dedup.py`` pins the containment).

    Pass a prebuilt ``bloom`` (from :func:`build_bloom_filter`, possibly
    persisted) to amortize the build across daily batches."""
    if bloom is None:
        bloom = build_bloom_filter(evalset, n, m_bits, k, text_col)
    tr = (
        _spread(train, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(word_ngrams(text_col, n)).alias("sh"),
        )
        .where(F.col("sh").isNotNull())  # r15 NULL-text guard
        .distinct()
    )
    probed = tr.join(F.broadcast(bloom))
    hit_all = None
    for p in _bloom_positions(F.col("sh"), m_bits, k):
        word = F.element_at("bloom", (p / 64).cast("int") + 1)
        hit = F.bit_get(word, p % 64) == 1
        hit_all = hit if hit_all is None else (hit_all & hit)
    return (
        probed.where(hit_all)
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


# ------------------------------------------ duplicate-passage detection


def duplicate_passages(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level exact duplicate detection — the 'dedup by repeated
    span, not whole doc' family (Lee et al. 2022, which uses a suffix
    array) re-expressed relationally: a token position is DUPLICATED if
    it is covered by any length-``n`` token shingle occurring in >=
    ``min_docs`` distinct documents; maximal runs of duplicated
    positions are merged per doc. Returns one row per maximal span:
    (doc_id, span_start, span_len), 0-based token offsets over the
    normalized token stream.

    Scale design: the shingle document-frequency is computed on 8-byte
    ``xxhash64`` keys (the shingle STRINGS never shuffle), and only
    duplicated shingles — rare in a clean corpus, bounded by true
    duplication — reach the per-doc window stage, whose partitions are
    bounded by document length. No all-pairs step exists at any point;
    unlike a suffix array there is no global sort over the corpus, just
    one hash aggregation + one windowed islands pass.

    Docs shorter than ``n`` tokens contribute one whole-doc shingle whose
    span still reports length ``n`` (the shingle-mask convention; the
    oracle mirrors it)."""
    from pyspark.sql import Window

    sh = (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode_outer(word_ngrams(text_col, n)).alias(
                "pos", "sh_str"
            ),
        )
        .where(F.col("sh_str").isNotNull())  # r15 NULL-text guard
        .select("id", "pos", F.xxhash64("sh_str").alias("sh"))
        .transform(tracked_persist)  # feeds both the df count and the interval join
    )
    dup = (
        sh.groupBy("sh")
        .agg(F.count_distinct("id").alias("df"))
        .where(F.col("df") >= min_docs)
    )
    # the duplicated-shingle set is bounded only by TRUE cross-doc
    # duplication — on a duplicate-heavy corpus it approaches the full
    # shingle vocabulary, so it must never be driver-broadcast (measured:
    # the 10x soak corpus, where every doc is a 10-way near-dup, blows a
    # 64 MB broadcast build). shuffle_hash pins a shuffled hash join:
    # both sides exchange on the 8-byte key, no driver materialization.
    ivals = sh.join(dup.select("sh").hint("shuffle_hash"), "sh").select(
        "id", "pos", (F.col("pos") + n - 1).alias("end")
    )
    w = Window.partitionBy("id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    islands = (
        ivals.withColumn("prev_end", F.max("end").over(wprev))
        .withColumn(
            "new_island",
            (F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end") + 1)).cast(
                "int"
            ),
        )
        .withColumn("island", F.sum("new_island").over(w))
    )
    return (
        islands.groupBy(F.col("id").alias(id_col), "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("end") - F.min("pos") + 1).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def _keeper_protected_drop_spans(marked: DataFrame) -> DataFrame:
    """The interval-overlay sweep shared by :func:`dedup_substrings`
    (token windows) and :func:`dedup_sentences` (sentence spans, r10):
    from occurrences of duplicated units — (id, pos, e, kept) where
    ``kept`` marks the canonical occurrence — compute per-doc removal
    intervals at endpoint granularity: ±1 boundary events for dropped
    (dd) and kept (kd) coverage, one running-sum sweep per doc, keep
    segments where dropped coverage > 0 AND kept coverage == 0 (the
    keeper-protection term), then merge touching segments into islands.
    Returns (id, drop_ivals: array<struct<rs,re>>)."""
    from pyspark.sql import Window

    events = (
        marked.select(
            "id",
            F.explode(
                F.array(
                    F.struct(
                        F.col("pos").alias("b"),
                        F.when(F.col("kept"), 0).otherwise(1).alias("dd"),
                        F.when(F.col("kept"), 1).otherwise(0).alias("kd"),
                    ),
                    F.struct(
                        (F.col("e") + 1).alias("b"),
                        F.when(F.col("kept"), 0).otherwise(-1).alias("dd"),
                        F.when(F.col("kept"), -1).otherwise(0).alias("kd"),
                    ),
                )
            ).alias("ev"),
        )
        .groupBy("id", F.col("ev.b").alias("b"))
        .agg(F.sum("ev.dd").alias("dd"), F.sum("ev.kd").alias("kd"))
    )
    w = Window.partitionBy("id").orderBy("b")
    sweep = events.select(
        "id",
        "b",
        F.sum("dd").over(w).alias("dcov"),
        F.sum("kd").over(w).alias("kcov"),
        F.lead("b").over(w).alias("nb"),
    )
    seg = sweep.where(
        F.col("nb").isNotNull() & (F.col("dcov") > 0) & (F.col("kcov") == 0)
    ).select("id", F.col("b").alias("s"), (F.col("nb") - 1).alias("e"))
    ws = Window.partitionBy("id").orderBy("s")
    wprev = ws.rowsBetween(Window.unboundedPreceding, -1)
    return (
        seg.withColumn("pe", F.max("e").over(wprev))
        .withColumn(
            "new_island",
            (F.col("pe").isNull() | (F.col("s") > F.col("pe") + 1)).cast("int"),
        )
        .withColumn("island", F.sum("new_island").over(ws))
        .groupBy("id", "island")
        .agg(F.min("s").alias("rs"), F.max("e").alias("re"))
        .groupBy("id")
        .agg(F.collect_list(F.struct("rs", "re")).alias("drop_ivals"))
    )


def dedup_substrings(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr DEDUP (Lee et al. 2022, arXiv:2107.06499 §4.1 — their
    suffix-array pass, re-expressed relationally): rewrite the corpus so
    every duplicated length-``n`` token window survives in exactly ONE
    canonical occurrence. :func:`duplicate_passages` only *reports*
    cross-doc spans; this operator performs the removal, and counts
    within-doc repeats as duplicates too (total occurrence count >= 2,
    not distinct-doc frequency — a passage pasted twice into one page is
    exactly what ExactSubstr exists to strip).

    Semantics, in order:

    * windows = positional ``n``-gram over the NORMALIZED token stream
      (whole-doc window when the doc is shorter, the ``word_ngrams``
      convention; covered end clamps to the doc length);
    * a window VALUE is duplicated when it occurs >= 2 times anywhere;
    * the canonical occurrence of each value = min ``(doc_id, pos)`` —
      a deterministic total order, so reruns keep the same copy;
    * a token is REMOVED when it is covered by >= 1 non-canonical
      occurrence and by NO canonical occurrence of a duplicated window —
      the protection term is what makes periodic text ('x' * 50) keep
      exactly one window instead of eating into the kept copy, and what
      leaves canonical documents untouched; it is slightly conservative
      when a kept and a dropped passage physically overlap (keeps the
      overlap);
    * output = one row per input doc: (``doc_id``, ``text`` — the
      normalized token stream with removed positions excised,
      space-joined, '' when everything went — ``removed_tokens``).

    Scale shape (the suffix array's job, without its global sort): the
    corpus-sized streams are (a) one 16-byte row per token position into
    ONE hash aggregation on the 8-byte window hash, and (b) one
    doc-keyed join to rebuild. Everything between — keeper join, the
    interval-overlay sweep (boundary events, running coverage sums,
    segment islands) — runs only on occurrences of DUPLICATED windows,
    bounded by true duplication, with per-doc window partitions. The
    coverage subtraction works at interval-endpoint granularity, never
    exploding a window into its ``n`` positions. Both unbounded-side
    joins pin ``shuffle_hash`` (the duplicate-heavy-corpus broadcast
    trap measured on duplicate_passages' 10x soak). The final rebuild's
    per-token ``exists`` scans the doc's own removal spans — a handful
    of intervals, not a corpus-sized structure.

    Collision trade-off (ADVICE r9, documented deliberately): window
    equality is decided on the raw 64-bit ``xxhash64`` of the window
    string, and removal is irreversible. At ~1e12 windows (the 100 TB
    regime) birthday collisions are EXPECTED (~n²/2^65 ≈ tens of
    thousands of colliding pairs), each of which removes one innocent
    n-token span — a ~1e-8 fraction of the corpus, far below the noise
    floor of the dedup itself (Lee et al. 2022 ship the same trade in
    their hash-based variant). Where that is not acceptable, carry
    ``sh_str`` through the keeper join and compare the strings on
    match — one extra corpus-width string column through the first
    shuffle, zero false removals."""
    from pyspark.sql import Window

    toks = (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            token_array(text_col).alias("tk"),
        )
        .withColumn("t_len", F.size("tk"))
        .transform(tracked_persist)  # feeds the window emit AND the rebuild
    )
    wins = _token_windows(toks, n)
    dup = (
        wins.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("id", "pos")).alias("keeper"),
        )
        .where(F.col("c") >= 2)
        .select("sh", "keeper")
    )
    marked = wins.join(dup.hint("shuffle_hash"), "sh").select(
        "id",
        "pos",
        "e",
        (
            (F.col("id") == F.col("keeper.id"))
            & (F.col("pos") == F.col("keeper.pos"))
        ).alias("kept"),
    )
    spans = _keeper_protected_drop_spans(marked)
    ivals = F.coalesce(
        F.col("drop_ivals"),
        F.array().cast("array<struct<rs:bigint,re:bigint>>"),
    )
    kept_toks = F.filter(
        F.col("tk"),
        lambda t, i: ~F.exists(
            ivals, lambda iv: (i >= iv["rs"]) & (i <= iv["re"])
        ),
    )
    return (
        toks.join(spans.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(" ", kept_toks).alias("text"),
            (F.col("t_len") - F.size(kept_toks)).cast("long").alias(
                "removed_tokens"
            ),
        )
    )


def decontaminate_substrings(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level decontamination (the Lee et al. 2022 §6.2 /
    GPT-3-style application of ExactSubstr): excise from every TRAIN
    document any length-``n`` token window that appears ANYWHERE in the
    eval set — the span-granular upgrade of :func:`contamination` /
    :func:`bloom_decontaminate`, which only FLAG whole documents. A
    train doc that quotes one benchmark sentence loses that sentence,
    not its life.

    Same machinery as :func:`dedup_substrings` minus the keeper
    protection (every eval-matched window is removed — there is no
    canonical copy to keep on the train side): window emit → semi join
    against the eval window set → interval islands per doc → token
    rebuild. Returns one row per train doc: (``doc_id``, ``text`` — the
    normalized token stream with contaminated spans excised,
    ``removed_tokens``).

    Scale shape: train pays one window emit + ONE equi-join on the
    8-byte window hash (left_semi, so matched windows never fan out)
    plus the doc-keyed rebuild; the eval side — benchmark-sized, but
    not always broadcast-small — is deduplicated to distinct window
    hashes before the join. Only matched windows (bounded by true
    contamination) reach the islands merge.

    Collision trade-off (ADVICE r9): matches are raw 64-bit window
    hashes and excision is irreversible — same deliberate trade as
    :func:`dedup_substrings` (see its docstring for the numbers); a
    false positive here over-scrubs a span, it never under-scrubs, so
    the compliance direction is safe. The incremental path
    (:func:`decontaminate_substrings_incremental`) stores ONLY hashes,
    so an exact-verify variant would need the eval text retained."""
    from pyspark.sql import Window

    toks = (
        _spread(train, id_col)
        .select(
            F.col(id_col).alias("id"),
            token_array(text_col).alias("tk"),
        )
        .withColumn("t_len", F.size("tk"))
        .transform(tracked_persist)  # window emit + rebuild
    )

    eval_windows = (
        _window_hashes(evalset, n, id_col, text_col).select("sh").distinct()
    )
    # matched train windows: semi join keeps each window at most once,
    # shuffle_hash because contamination volume is unbounded (a train
    # corpus that embeds the whole benchmark matches everywhere)
    hits = _token_windows(toks, n).join(
        eval_windows.hint("shuffle_hash"), "sh", "left_semi"
    )
    w = Window.partitionBy("id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    spans = (
        hits.withColumn("pe", F.max("e").over(wprev))
        .withColumn(
            "new_island",
            (F.col("pe").isNull() | (F.col("pos") > F.col("pe") + 1)).cast(
                "int"
            ),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("id", "island")
        .agg(F.min("pos").alias("rs"), F.max("e").alias("re"))
        .groupBy("id")
        .agg(F.collect_list(F.struct("rs", "re")).alias("drop_ivals"))
    )
    ivals = F.coalesce(
        F.col("drop_ivals"),
        F.array().cast("array<struct<rs:bigint,re:bigint>>"),
    )
    kept_toks = F.filter(
        F.col("tk"),
        lambda t, i: ~F.exists(
            ivals, lambda iv: (i >= iv["rs"]) & (i <= iv["re"])
        ),
    )
    return toks.join(spans.hint("shuffle_hash"), "id", "left").select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept_toks).alias("text"),
        (F.col("t_len") - F.size(kept_toks)).cast("long").alias(
            "removed_tokens"
        ),
    )


def _window_hashes(docs: DataFrame, n: int, id_col: str, text_col: str):
    """(id, pos, e, sh): every length-``n`` token window of every doc,
    keyed by its 8-byte hash — the shared emit of the substring
    family. A narrow-provenance source spreads first (r14) so the
    tokenize+window explode runs at full width."""
    from hadoop_invertedindexer_spark.sources.tables import spread_if_narrow

    toks = (
        spread_if_narrow(docs, id_col)
        .select(F.col(id_col).alias("id"), token_array(text_col).alias("tk"))
        .withColumn("t_len", F.size("tk"))
    )
    return _token_windows(toks, n)


def _token_windows(toks: DataFrame, n: int) -> DataFrame:
    """(id, pos, e, sh) from an (id, tk, t_len) token frame: each
    length-``n`` window of ``tk`` (the whole doc when shorter) at its
    start ``pos``, ending at token ``e``, keyed by its ``xxhash64``."""
    return toks.select(
        "id",
        "t_len",
        F.posexplode_outer(
            _token_ngrams(F.col("tk"), n, F.col("t_len"))
        ).alias("pos", "sh_str"),
    ).select(
        "id",
        "pos",
        F.least(F.col("pos") + n - 1, F.col("t_len") - 1).alias("e"),
        F.xxhash64("sh_str").alias("sh"),
    )


def build_window_index(
    docs: DataFrame,
    path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the DISTINCT window-hash set of a reference corpus (the
    eval/benchmark side of substring decontamination) — the substring
    family's member of the engine's persisted-index trio (MinHash
    signatures, IVF assignments, now window hashes): the reference
    corpus is scanned once at build time, and every future ingest batch
    decontaminates against the stored 8-byte hashes without re-reading
    any reference text.

    The window width ``n`` is persisted alongside the hashes (the
    MinHash index's params pattern, :func:`build_minhash_index`):
    window hashes are only comparable between sides windowed with the
    SAME n, so every reader loads and asserts it — an index built with
    one n and queried with another would otherwise match nothing and
    silently under-decontaminate a compliance stage (ADVICE r9)."""
    def _write_windows() -> None:
        _window_hashes(_spread(docs, id_col), n, id_col, text_col).select(
            "sh"
        ).distinct().write.mode("overwrite").parquet(f"{path}/windows")

    def _write_params() -> None:
        docs.sparkSession.createDataFrame([(n,)], "n int").write.mode(
            "overwrite"
        ).parquet(f"{path}/params")

    # independent sinks overlap (guide §2.6, r15)
    _run_overlapped(_write_windows, _write_params)


def _assert_window_index_n(spark, path: str, n: int) -> None:
    """Loudly refuse to query/append a window index with a different n
    than it was built with — the hashes would simply never match and the
    caller would read 'no contamination' where none was checked."""
    stored = int(spark.read.parquet(f"{path}/params").head().n)
    if stored != n:
        raise ValueError(
            f"window index at {path} was built with n={stored} but is "
            f"being used with n={n}; window hashes of different widths "
            "never match, so this would silently decontaminate nothing "
            "— pass the index's n or rebuild the index"
        )


def append_window_index(
    batch: DataFrame,
    path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new reference batch's distinct window hashes: O(batch) —
    existing index files are never read or rewritten. Hashes already
    present land again as duplicate rows; they cost bytes, not
    correctness (the decontamination join is a semi join), and a
    periodic compaction (read-distinct-rewrite) reclaims them — the
    standard append-mostly index trade, same as the MinHash tiers.
    The batch must be windowed with the index's stored n (asserted)."""
    _assert_window_index_n(batch.sparkSession, path, n)
    _window_hashes(batch, n, id_col, text_col).select(
        "sh"
    ).distinct().write.mode("append").parquet(f"{path}/windows")


def decontaminate_substrings_incremental(
    spark,
    batch: DataFrame,
    path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Decontaminate an ingest batch against a PERSISTED window index:
    identical output to :func:`decontaminate_substrings` with the
    index's corpus as ``evalset`` (pinned by test), but the reference
    side is a pruned read of stored 8-byte hashes — per-batch cost is
    O(batch windows + index-hash scan), and the reference text is never
    touched again. The daily-ingest posture of
    ``minhash_index_pairs``/``query_ivf_index`` for the substring
    family. The stored window width is asserted against ``n`` (ADVICE
    r9: a mismatched n would match nothing and silently skip the
    decontamination)."""
    from pyspark.sql import Window

    _assert_window_index_n(spark, path, n)
    idx = spark.read.parquet(f"{path}/windows").distinct()
    toks = (
        _spread(batch, id_col)
        .select(
            F.col(id_col).alias("id"),
            token_array(text_col).alias("tk"),
        )
        .withColumn("t_len", F.size("tk"))
        .transform(tracked_persist)
    )
    # windows come straight off the persisted token projection
    # (_window_hashes would re-tokenize the raw text per scan)
    hits = _token_windows(toks, n).join(
        idx.hint("shuffle_hash"), "sh", "left_semi"
    )
    w = Window.partitionBy("id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    spans = (
        hits.withColumn("pe", F.max("e").over(wprev))
        .withColumn(
            "new_island",
            (F.col("pe").isNull() | (F.col("pos") > F.col("pe") + 1)).cast(
                "int"
            ),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("id", "island")
        .agg(F.min("pos").alias("rs"), F.max("e").alias("re"))
        .groupBy("id")
        .agg(F.collect_list(F.struct("rs", "re")).alias("drop_ivals"))
    )
    ivals = F.coalesce(
        F.col("drop_ivals"),
        F.array().cast("array<struct<rs:bigint,re:bigint>>"),
    )
    kept_toks = F.filter(
        F.col("tk"),
        lambda t, i: ~F.exists(
            ivals, lambda iv: (i >= iv["rs"]) & (i <= iv["re"])
        ),
    )
    return toks.join(spans.hint("shuffle_hash"), "id", "left").select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept_toks).alias("text"),
        (F.col("t_len") - F.size(kept_toks)).cast("long").alias(
            "removed_tokens"
        ),
    )


def _union_coverage(hits: DataFrame) -> DataFrame:
    """(id, pos, e) matched intervals → (id, cov): total UNION-covered
    unit count per id via the gaps-and-islands merge — overlapping
    matches never double-count. Runs at hit scale (eval-sized), one
    id-keyed window chain; shared by the token- and sentence-granular
    contamination reports."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        hits.withColumn("pe", F.max("e").over(wprev))
        .withColumn(
            "new_island",
            (F.col("pe").isNull() | (F.col("pos") > F.col("pe") + 1)).cast(
                "int"
            ),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("id", "island")
        .agg(F.min("pos").alias("rs"), F.max("e").alias("re"))
        .groupBy("id")
        .agg(F.sum(F.col("re") - F.col("rs") + 1).alias("cov"))
    )


def contamination_report(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-side contamination MEASUREMENT — the "% of the benchmark is
    contaminated" table every model paper publishes (Brown et al. 2020
    appendix C; Lee et al. 2022 §6.2 report the same statistic before
    scrubbing): for each EVAL doc, how many of its tokens sit inside a
    length-``n`` token window that also appears anywhere in the training
    corpus. The mirror image of :func:`decontaminate_substrings` (which
    edits the TRAIN side): same window emit, same hash equi-join, same
    interval-islands merge so overlapping matched windows are counted as
    UNION coverage, never double-counted — but pointed at the benchmark
    and reporting instead of rewriting.

    Returns one row per eval doc: (``id_col``, ``n_tokens``,
    ``contaminated_tokens``, ``contaminated_frac`` round(6)).

    Scale shape: the train corpus — the big side — pays one window emit
    and a DISTINCT on 8-byte hashes, then ONE equi-join against the
    benchmark-sized eval window stream (``shuffle_hash`` pinned: a
    distinct-of-corpus frame is exactly the under-estimated-aggregate
    shape Catalyst loves to broadcast); islands/fractions run at eval
    scale. Nothing corpus-sized is ever windowed twice or sorted."""
    etoks = (
        evalset.select(
            F.col(id_col).alias("id"), token_array(text_col).alias("tk")
        )
        .withColumn("t_len", F.size("tk"))
        .select("id", "t_len")
    )
    train_sh = (
        _window_hashes(_spread(train, id_col), n, id_col, text_col)
        .select("sh")
        .distinct()
    )
    hits = _window_hashes(evalset, n, id_col, text_col).join(
        train_sh.hint("shuffle_hash"), "sh", "left_semi"
    )
    covered = _union_coverage(hits)
    return etoks.join(covered, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("t_len").cast("long").alias("n_tokens"),
        F.coalesce(F.col("cov"), F.lit(0)).cast("long").alias(
            "contaminated_tokens"
        ),
        F.round(
            F.coalesce(F.col("cov"), F.lit(0))
            / F.col("t_len").cast("double"),
            6,
        ).alias("contaminated_frac"),
    )


def contamination_report_incremental(
    spark,
    evalset: DataFrame,
    path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`contamination_report` against a PERSISTED train-side
    window index (:func:`build_window_index` pointed at the TRAINING
    corpus — at 100 TB that index is the artifact you keep, because
    re-windowing the corpus per benchmark is the cost that hurts):
    per-benchmark cost is O(benchmark windows + one scan of stored
    8-byte hashes), the train text is never re-read, and new-corpus
    appends go through ``append_window_index``. Identical output to the
    direct path with the index's corpus as ``train`` (pinned by test and
    by the shared contract oracle). The stored window width is asserted
    against ``n`` (ADVICE r9)."""
    _assert_window_index_n(spark, path, n)
    idx = spark.read.parquet(f"{path}/windows").distinct()
    etoks = (
        evalset.select(
            F.col(id_col).alias("id"), token_array(text_col).alias("tk")
        )
        .withColumn("t_len", F.size("tk"))
        .select("id", "t_len")
    )
    hits = _window_hashes(evalset, n, id_col, text_col).join(
        idx.hint("shuffle_hash"), "sh", "left_semi"
    )
    covered = _union_coverage(hits)
    return etoks.join(covered, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("t_len").cast("long").alias("n_tokens"),
        F.coalesce(F.col("cov"), F.lit(0)).cast("long").alias(
            "contaminated_tokens"
        ),
        F.round(
            F.coalesce(F.col("cov"), F.lit(0))
            / F.col("t_len").cast("double"),
            6,
        ).alias("contaminated_frac"),
    )


def source_overlap(
    docs: DataFrame,
    source_col: str = "source",
    num_perm: int = 64,
    n: int = 3,
    text_col: str = "text",
    portable: bool = False,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level SOURCE overlap analytics — the dataset-curation
    question ("how much does crawl A duplicate crawl B?") that decides
    mixing weights and dedup order before any doc-level pass runs: one
    MinHash signature per *source* over the union of its documents'
    word n-gram shingles, then the positional-equality Jaccard estimate
    for every source pair. Returns (source_a, source_b, est_jaccard),
    one row per unordered pair (a < b lexicographically).

    Scale shape: reuses :func:`minhash_signatures` with the SOURCE as
    the grouping key — the corpus pays exactly the doc-level signature
    pipeline's cost (shingle explode + one groupBy of 8-byte keys; the
    64 mins fold map-side), and everything after operates on the
    signature frame, which has ONE ROW PER SOURCE — so the all-pairs
    self-join is quadratic only in the source count (tens to thousands),
    broadcast, and never touches the corpus again. ``portable=True`` is
    the md5-60bit oracle twin, same trade as minhash_signatures. The
    pre-explode spread uses ``doc_id_col``, not the (low-cardinality)
    source key — otherwise the shingle explode would serialize onto
    n_sources tasks."""
    sigs = minhash_signatures(
        docs,
        num_perm=num_perm,
        n=n,
        id_col=source_col,
        text_col=text_col,
        portable=portable,
        spread_col=doc_id_col,
    )
    a = sigs.select(F.col("id").alias("source_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("source_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_perm)),
        6,
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", est.alias("est_jaccard"))
    )


# ----------------------------------------------------------- paragraphs


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2020 §3.1:
    hash every paragraph, drop repeats corpus-wide) — the granularity
    between whole-document :func:`dedup_exact` and span-level
    :func:`dedup_substrings`: boilerplate paragraphs (cookie banners,
    licence headers, navigation footers) repeat across documents that
    are NOT near-dups as wholes, and paragraph hashing removes them
    without touching the surrounding prose.

    Semantics: split on ``\\n``; a paragraph's dup key is the md5 of its
    dedup normalization (lowercase, punctuation stripped, whitespace
    collapsed — :func:`normalized_text`); the FIRST occurrence
    corpus-wide — smallest ``(doc_id, position)`` — is kept and every
    later occurrence, including within-document repeats, is dropped.
    Paragraphs whose normalization is empty carry no content and are
    kept verbatim: deduping them would funnel every blank line in the
    corpus into ONE hash group (a guaranteed skew cell at 100 TB) just
    to delete whitespace — so each empty paragraph instead gets a
    per-occurrence unique key, which both preserves it and spreads it.
    Documents whose every paragraph is dropped vanish from the output
    (they were pure boilerplate). Returns (id, text, n_kept, n_dropped)
    with ``text`` reassembled from the surviving paragraphs in original
    order.

    Scale shape: paragraphs shuffle ONCE on the hash key (the
    canonical-occurrence groupBy; AQE reuses the exchange for the
    join-back) and once more on the id for reassembly — both
    high-cardinality keys, no corpus-wide window, no position fan-out.
    Cost class is O(total paragraphs), i.e. dedup_exact one level down.
    The reference has no paragraph surface (its unit is the line of the
    input split, src/InvertedIndexer.java:96-100); this is the CCNet
    extension row.
    """
    keyed = _paragraph_keyed(docs, id_col, text_col)
    canon = keyed.groupBy("_h").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).alias("_first")
    )
    flagged = keyed.join(canon, "_h").withColumn(
        "_keep",
        (F.col("_first.d") == F.col(id_col))
        & (F.col("_first.p") == F.col("pos")),
    )
    return _reassemble_paragraphs(flagged, id_col, text_col)


def _paragraph_keyed(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, para, _h): every newline-split paragraph of every doc
    with its dedup key — md5 of the normalized paragraph, or (for
    empty normalizations) a per-occurrence unique non-hex key ('u|'
    prefix cannot collide with 32-char hex md5): its own group, so it
    is always kept and never forms the blank-line skew cell."""
    norm = normalized_text("para")
    return _spread(docs, id_col).select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias(
            "pos", "para"
        ),
    ).where(
        # outer-generator null guard (r15, ADVICE r14): no-op for
        # non-null text (split never yields NULL elements); a NULL-text
        # doc would otherwise emit a spurious (pos=NULL, para=NULL) row
        # the inner explode never produced. Generated-attribute filter —
        # cannot push below the Generate.
        F.col("para").isNotNull()
    ).select(
        id_col,
        "pos",
        "para",
        F.when(
            norm == "",
            F.concat_ws("|", F.lit("u"), F.col(id_col), F.col("pos")),
        )
        .otherwise(F.md5(norm))
        .alias("_h"),
    )


def _reassemble_paragraphs(
    flagged: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild (id, text, n_kept, n_dropped) from a flagged paragraph
    stream — the shared tail of the direct and incremental paths (the
    two differ only in how ``_keep`` is decided)."""
    kept_struct = F.when(
        F.col("_keep"),
        F.struct(F.col("pos").alias("p"), F.col("para").alias("t")),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["t"],
                ),
            ).alias(text_col),
            F.sum(F.col("_keep").cast("int")).cast("long").alias("n_kept"),
            F.sum((~F.col("_keep")).cast("int")).cast("long").alias("n_dropped"),
        )
        .where(F.col("n_kept") >= 1)
    )


# ------------------------------------------------------------ sentences


def _sentence_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sn, s_len): every doc's sentence array from the
    sentinel-insertion boundary regex — the shared head of the sentence
    family (dedup / decontaminate / index build)."""
    from hadoop_invertedindexer_spark.functions.textprep import (
        _SENT_BOUNDARY_RE,
    )

    from hadoop_invertedindexer_spark.sources.tables import spread_if_narrow

    sn_arr = F.split(
        F.regexp_replace(F.col(text_col), _SENT_BOUNDARY_RE, "$1\x01$2"),
        "\x01",
    )
    return spread_if_narrow(docs, id_col).select(
        F.col(id_col).alias("id"), sn_arr.alias("sn")
    ).withColumn(
        "s_len", F.size("sn")
    )


def _sentence_norm_join(arr):
    """Span key body: per-sentence dedup normalizations joined with an
    un-typeable separator."""
    return F.concat_ws("\x02", F.transform(arr, lambda s: normalized_text(s)))


def _sentence_spans(frame: DataFrame, span: int) -> DataFrame:
    """(id, pos, e, sp): every ``span``-wide sentence run of a
    (id, sn, s_len) frame — whole-doc span for short docs, covered end
    clamped. ``sp`` is the raw normalized-join key body (blank handling
    is the caller's: dedup adds unique keys, index/decontaminate drop
    blanks)."""
    return frame.select(
        "id",
        "s_len",
        F.posexplode_outer(
            F.when(
                F.col("s_len") < span,
                F.array(_sentence_norm_join(F.col("sn"))),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.col("s_len") - span),
                    lambda i: _sentence_norm_join(
                        F.slice(F.col("sn"), i + 1, span)
                    ),
                )
            )
        ).alias("pos", "sp"),
    ).select(
        "id",
        "pos",
        F.least(F.col("pos") + span - 1, F.col("s_len") - 1).alias("e"),
        "sp",
    )


def _sentence_rebuild(
    toks: DataFrame, spans: DataFrame, id_col: str
) -> DataFrame:
    """Excise the removal intervals from the sentence arrays and
    space-rejoin — the shared tail of the sentence family."""
    ivals = F.coalesce(
        F.col("drop_ivals"),
        F.array().cast("array<struct<rs:bigint,re:bigint>>"),
    )
    kept_sents = F.filter(
        F.col("sn"),
        lambda t, i: ~F.exists(
            ivals, lambda iv: (i >= iv["rs"]) & (i <= iv["re"])
        ),
    )
    return toks.join(spans.hint("shuffle_hash"), "id", "left").select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept_sents).alias("text"),
        (F.col("s_len") - F.size(kept_sents)).cast("long").alias(
            "removed_sentences"
        ),
    )


def dedup_sentences(
    docs: DataFrame,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style three-sentence-span dedup (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more
    than once in the data set") — the granularity between
    :func:`dedup_paragraphs` (needs explicit ``\\n`` structure) and
    :func:`dedup_substrings` (fixed token windows): boilerplate that
    repeats as SENTENCES (cookie notices, share-this prompts) is
    removed at sentence boundaries, keeping exactly one copy
    corpus-wide.

    Semantics (composing :func:`split_sentences`'s segmentation with
    the ExactSubstr keeper machinery):

    * units = sentences from the sentinel-insertion boundary regex;
      docs with fewer than ``span`` sentences contribute one whole-doc
      span (the short-doc convention of :func:`dedup_substrings`);
    * a span's dup key = md5 of the PER-SENTENCE dedup normalizations
      joined with an un-typeable separator — formatting differences
      inside a sentence don't defeat the match, sentence boundaries do
      (all-blank spans get per-occurrence unique keys: the
      blank-line-skew guard of :func:`dedup_paragraphs`);
    * a span VALUE is duplicated when it occurs ≥ 2 times anywhere
      (within-doc repeats count); the canonical occurrence = min
      (doc_id, pos), and a sentence is removed when covered by ≥ 1
      non-canonical occurrence and NO canonical one — the same
      keeper-protection sweep, at sentence granularity;
    * output = one row per input doc: (``doc_id``, ``text`` — surviving
      sentences joined with one space, which restores the original
      inter-sentence spacing the boundary regex consumed —
      ``removed_sentences``).

    Scale shape: identical cost class to :func:`dedup_substrings` with
    ~20× fewer units (sentences vs token positions): one hash
    aggregation on the 16-byte span key, keeper join + interval sweep
    over occurrences of DUPLICATED spans only, one doc-keyed rebuild;
    ``shuffle_hash`` pinned on the unbounded-side joins, never a
    position fan-out."""
    toks = _sentence_frame(_spread(docs, id_col), id_col, text_col).transform(
        tracked_persist  # span emit + rebuild
    )
    wins = _sentence_spans(toks, span).select(
        "id",
        "pos",
        "e",
        F.when(
            F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) == "",
            F.concat_ws("|", F.lit("u"), F.col("id"), F.col("pos")),
        ).otherwise(F.md5("sp")).alias("sh"),
    )
    dup = (
        wins.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("id", "pos")).alias("keeper"),
        )
        .where(F.col("c") >= 2)
        .select("sh", "keeper")
    )
    marked = wins.join(dup.hint("shuffle_hash"), "sh").select(
        "id",
        "pos",
        "e",
        (
            (F.col("id") == F.col("keeper.id"))
            & (F.col("pos") == F.col("keeper.pos"))
        ).alias("kept"),
    )
    return _sentence_rebuild(
        toks, _keeper_protected_drop_spans(marked), id_col
    )


def decontaminate_sentences(
    train: DataFrame,
    evalset: DataFrame,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-span decontamination (r10) — :func:`dedup_sentences`
    minus the keeper protection, oriented like
    :func:`decontaminate_substrings`: excise from every TRAIN document
    any ``span``-sentence run that appears ANYWHERE in the eval set.
    The sentence granularity is what benchmark text actually leaks as
    (a quoted question, a verbatim passage re-flowed with different
    inner whitespace — which the per-sentence normalization still
    matches, while the token-window scrub needs n contiguous tokens).

    Semantics: units/keys exactly as :func:`dedup_sentences` (sentinel
    boundary split, per-sentence normalized span keys, whole-doc span
    for short docs); every train span matching an eval span key is
    dropped coverage — there is no canonical copy to protect — and the
    same interval sweep (with zero kept coverage by construction)
    yields the removal islands. All-blank spans never match (excluded
    from the eval key set). Returns one row per train doc: (``doc_id``,
    ``text`` — surviving sentences space-joined — ``removed_sentences``).

    Scale shape: train pays one span emit + ONE left-semi equi-join on
    the 16-byte span key (``shuffle_hash`` pinned — the eval side is
    benchmark-sized but the distinct-of-spans frame is the
    under-estimated aggregate shape Catalyst loves to broadcast) plus
    the doc-keyed rebuild; only matched spans reach the islands
    merge."""

    def keyed_nonblank(frame):
        return _sentence_spans(frame, span).where(
            F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) != ""
        ).select("id", "pos", "e", F.md5("sp").alias("sh"))

    toks = _sentence_frame(_spread(train, id_col), id_col, text_col).transform(
        tracked_persist  # span emit + rebuild
    )
    eval_sh = (
        keyed_nonblank(_sentence_frame(evalset, id_col, text_col))
        .select("sh")
        .distinct()
    )
    hits = keyed_nonblank(toks).join(
        eval_sh.hint("shuffle_hash"), "sh", "left_semi"
    )
    # every matched span is dropped coverage; the shared sweep runs with
    # kept ≡ false, so its protection term is vacuous by construction
    spans = _keeper_protected_drop_spans(hits.withColumn("kept", F.lit(False)))
    return _sentence_rebuild(toks, spans, id_col)


def contamination_report_sentences(
    train: DataFrame,
    evalset: DataFrame,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-side contamination measurement at SENTENCE granularity
    (r10) — completes the sentence family's symmetry with the substring
    family (dedup / decontaminate / report): for each EVAL doc, how
    many of its sentences sit inside a ``span``-sentence run that also
    appears anywhere in the training corpus. The "% of the benchmark
    leaks as quoted passages" table — sentence units catch re-flowed
    verbatim quotes the token-window report undercounts, and the
    number is directly comparable to what :func:`decontaminate_sentences`
    would scrub.

    Units/keys exactly as :func:`dedup_sentences` (sentinel boundary
    split, per-sentence normalized span keys, whole-doc span for short
    docs; all-blank spans never match); overlapping matched spans count
    as UNION coverage via the shared islands merge
    (:func:`_union_coverage`), never double-counted. Returns one row
    per eval doc: (``id_col``, ``n_sentences``,
    ``contaminated_sentences``, ``contaminated_frac`` round(6)).

    Scale shape: the train corpus — the big side — pays one span emit
    and a DISTINCT on 16-byte keys, then ONE semi join against the
    benchmark-sized eval span stream (``shuffle_hash`` pinned: the
    distinct-of-corpus frame is the under-estimated-aggregate shape
    Catalyst loves to broadcast); islands and fractions run at eval
    scale."""
    eframes = _sentence_frame(evalset, id_col, text_col).transform(
        tracked_persist  # two consumers: the span probe + the length join
    )
    esl = eframes.select("id", "s_len")
    train_sh = (
        _sentence_keys_nonblank(
            _sentence_frame(_spread(train, id_col), id_col, text_col), span
        )
        .select("sh")
        .distinct()
    )
    hits = _sentence_keys_nonblank(eframes, span).join(
        train_sh.hint("shuffle_hash"), "sh", "left_semi"
    )
    return _sentence_report_tail(esl, hits, id_col)


def _sentence_keys_nonblank(frame: DataFrame, span: int) -> DataFrame:
    """(id, pos, e, sh): the non-blank md5 span keys of a sentence
    frame — shared by the direct and incremental sentence reports."""
    return (
        _sentence_spans(frame, span)
        .where(F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) != "")
        .select("id", "pos", "e", F.md5("sp").alias("sh"))
    )


def _sentence_report_tail(
    esl: DataFrame, hits: DataFrame, id_col: str
) -> DataFrame:
    covered = _union_coverage(hits)
    return esl.join(covered, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("s_len").cast("long").alias("n_sentences"),
        F.coalesce(F.col("cov"), F.lit(0)).cast("long").alias(
            "contaminated_sentences"
        ),
        F.round(
            F.coalesce(F.col("cov"), F.lit(0))
            / F.col("s_len").cast("double"),
            6,
        ).alias("contaminated_frac"),
    )


def contamination_report_sentences_incremental(
    spark,
    evalset: DataFrame,
    path: str,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`contamination_report_sentences` against a PERSISTED
    train-side sentence index (:func:`build_sentence_index` pointed at
    the TRAINING corpus — at 100 TB that index is the artifact you
    keep, because re-spanning the corpus per benchmark is the cost that
    hurts): per-benchmark cost is O(benchmark spans + one scan of
    stored 16-byte keys), the train text is never re-read, and
    new-corpus appends go through ``append_sentence_index`` /
    ``maintain_sentence_index``. Identical output to the direct path
    with the index's corpus as ``train`` (pinned by test and by the
    shared contract oracle). The stored span width is asserted against
    ``span`` — the window-index n-param lesson, applied from day
    one."""
    _assert_sentence_index_span(spark, path, span)
    idx = spark.read.parquet(f"{path}/sentences").select("h").distinct()
    eframes = _sentence_frame(evalset, id_col, text_col).transform(
        tracked_persist  # two consumers: the span probe + the length join
    )
    esl = eframes.select("id", "s_len")
    keyed = _sentence_keys_nonblank(eframes, span)
    hits = keyed.join(
        idx.hint("shuffle_hash"), keyed["sh"] == idx["h"], "left_semi"
    )
    return _sentence_report_tail(esl, hits, id_col)


def build_sentence_index(
    docs: DataFrame,
    path: str,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the DISTINCT sentence-span key set of an
    already-published corpus — the sentence family's member of the
    engine's persisted-index trio (MinHash signatures, window hashes,
    paragraph hashes, now sentence spans): the corpus is scanned once
    at build time, and every future ingest batch span-dedups against
    the stored 16-byte md5 keys without re-reading any published text.
    All-blank spans are excluded (always kept, never deduped). The
    span width is persisted alongside the keys and asserted by every
    reader/appender — spans of different widths never match, so a
    mismatch would silently dedup nothing (the window-index n-param
    lesson, applied from day one)."""
    keyed = _sentence_spans(
        _sentence_frame(_spread(docs, id_col), id_col, text_col), span
    )

    def _write_sentences() -> None:
        keyed.where(
            F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) != ""
        ).select(F.md5("sp").alias("h")).distinct().write.mode(
            "overwrite"
        ).parquet(f"{path}/sentences")

    def _write_params() -> None:
        docs.sparkSession.createDataFrame(
            [(span,)], "span int"
        ).write.mode("overwrite").parquet(f"{path}/params")

    # independent sinks overlap (guide §2.6, r15)
    _run_overlapped(_write_sentences, _write_params)


def _assert_sentence_index_span(spark, path: str, span: int) -> None:
    stored = int(spark.read.parquet(f"{path}/params").head().span)
    if stored != span:
        raise ValueError(
            f"sentence index at {path} was built with span={stored} but "
            f"is being used with span={span}; span keys of different "
            "widths never match, so this would silently dedup nothing "
            "— pass the index's span or rebuild the index"
        )


def append_sentence_index(
    batch: DataFrame,
    path: str,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a published batch's distinct span keys: O(batch) —
    existing index files are never read or rewritten; re-appended keys
    land as harmless duplicate rows (the dedup probe is a semi/anti
    join), reclaimed by periodic compaction. The batch must be spanned
    with the index's stored width (asserted)."""
    _assert_sentence_index_span(batch.sparkSession, path, span)
    keyed = _sentence_spans(
        _sentence_frame(batch, id_col, text_col), span
    )
    keyed.where(
        F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) != ""
    ).select(F.md5("sp").alias("h")).distinct().write.mode("append").parquet(
        f"{path}/sentences"
    )


def dedup_sentences_incremental(
    spark,
    batch: DataFrame,
    path: str,
    span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-dedup an ingest batch against a PERSISTED sentence index —
    the daily-ingest posture of :func:`dedup_sentences`, completing the
    family's trio symmetry with the window and paragraph indexes. The
    index side always wins: a batch span whose key is stored drops in
    EVERY occurrence (its canonical copy is already published), while
    spans new to the index keep the normal within-batch keeper
    semantics. With an index whose corpus ids all precede the batch
    ids, the output equals :func:`dedup_sentences` over
    (corpus ∪ batch) restricted to batch docs — pinned by test and by
    the shared contract oracle.

    Scale shape: per-batch cost is O(batch spans + one scan of stored
    16-byte keys); the published text is never re-read, and appends go
    through :func:`append_sentence_index`."""
    _assert_sentence_index_span(spark, path, span)
    idx = spark.read.parquet(f"{path}/sentences").select("h").distinct()
    toks = _sentence_frame(_spread(batch, id_col), id_col, text_col).transform(
        tracked_persist  # span emit + rebuild
    )
    wins = _sentence_spans(toks, span).select(
        "id",
        "pos",
        "e",
        F.when(
            F.replace(F.col("sp"), F.lit("\x02"), F.lit("")) == "",
            F.concat_ws("|", F.lit("u"), F.col("id"), F.col("pos")),
        ).otherwise(F.md5("sp")).alias("sh"),
    ).transform(tracked_persist)  # feeds the index probe AND the batch side
    in_idx = wins.join(
        idx.hint("shuffle_hash"), wins.sh == idx.h, "left_semi"
    ).select("id", "pos", "e", F.lit(False).alias("kept"))
    fresh = wins.join(idx.hint("shuffle_hash"), wins.sh == idx.h, "left_anti")
    dup = (
        fresh.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("id", "pos")).alias("keeper"),
        )
        .where(F.col("c") >= 2)
        .select("sh", "keeper")
    )
    batch_marked = fresh.join(dup.hint("shuffle_hash"), "sh").select(
        "id",
        "pos",
        "e",
        (
            (F.col("id") == F.col("keeper.id"))
            & (F.col("pos") == F.col("keeper.pos"))
        ).alias("kept"),
    )
    marked = in_idx.unionByName(batch_marked)
    return _sentence_rebuild(
        toks, _keeper_protected_drop_spans(marked), id_col
    )


def build_paragraph_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the DISTINCT normalized-paragraph hash set of an
    already-published corpus — the paragraph family's member of the
    engine's persisted-index trio (MinHash signatures, window hashes,
    now paragraph hashes): the corpus is scanned once at build time,
    and every future ingest batch paragraph-dedups against the stored
    16-byte keys without re-reading any published text. Empty-norm
    paragraphs are excluded (they are always kept, never deduped, so
    indexing them would only add bytes)."""
    keyed = _paragraph_keyed(docs, id_col, text_col)
    keyed.where(~F.col("_h").startswith("u|")).select(
        F.col("_h").alias("h")
    ).distinct().write.mode("overwrite").parquet(f"{path}/paragraphs")


def append_paragraph_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a published batch's distinct paragraph hashes: O(batch) —
    existing index files are never read or rewritten. Re-appended
    hashes land as duplicate rows (bytes, not correctness: the dedup
    join is an anti join), reclaimed by periodic compaction — the same
    append-mostly trade as the MinHash and window-hash tiers."""
    keyed = _paragraph_keyed(batch, id_col, text_col)
    keyed.where(~F.col("_h").startswith("u|")).select(
        F.col("_h").alias("h")
    ).distinct().write.mode("append").parquet(f"{path}/paragraphs")


def dedup_paragraphs_incremental(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph-dedup an ingest batch against a PERSISTED paragraph
    index — the daily-ingest posture of :func:`dedup_paragraphs`: the
    INDEX side always wins (it represents already-published text,
    regardless of id ordering); within the batch, the smallest
    (doc, pos) occurrence of each unindexed paragraph wins; empty
    paragraphs keep verbatim. When the indexed corpus's ids precede the
    batch's, the output is IDENTICAL to the direct path over
    corpus ∪ batch restricted to batch docs (pinned by test and by the
    shared contract oracle).

    Scale shape: per-batch cost is O(batch paragraphs + one index-hash
    scan) — the index join is an anti join on the 16-byte key, pinned
    ``shuffle_hash`` (the index side is unbounded and duplicate-heavy;
    the usual Catalyst broadcast-underestimate trap), and the published
    text is never re-read."""
    idx = spark.read.parquet(f"{path}/paragraphs").distinct()
    keyed = _paragraph_keyed(batch, id_col, text_col).transform(
        tracked_persist
    )  # two consumers: the fresh-paragraph anti join + the flag join-back
    canon = (
        keyed.join(
            idx.hint("shuffle_hash"),
            keyed["_h"] == idx["h"],
            "left_anti",
        )
        .groupBy("_h")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("_first")
        )
    )
    flagged = keyed.join(canon, "_h", "left").withColumn(
        "_keep",
        F.coalesce(
            (F.col("_first.d") == F.col(id_col))
            & (F.col("_first.p") == F.col("pos")),
            F.lit(False),
        ),
    )
    return _reassemble_paragraphs(flagged, id_col, text_col)


# -------------------------------------------------- index compaction
#
# Every append_* above is O(batch) because existing index files are
# never read or rewritten — re-appended keys land as duplicate rows
# that cost bytes, not correctness. These compactors are the promised
# reclaim step: read-DISTINCT-rewrite into a ROTATION directory (the
# rebuild_ivf_index pattern in operators/similarity.py — Spark cannot
# safely overwrite parquet it is still reading, so compaction writes
# fresh and the caller rotates the pointer; ingest can keep appending
# to the old path until the swap). Params tables are copied verbatim,
# so every reader assertion (_assert_window_index_n and friends) holds
# identically on the compacted copy, and the incremental queries are
# equal before/after by construction (their first step is a distinct
# over the stored keys — pinned by tests anyway).


def _compact_key_tier(
    spark, path: str, dest_path: str, sub: str, copy_params: bool
) -> None:
    # In-place guard (r13, closes the r12 watch item): local symlinked
    # spellings resolve via realpath AND remote URIs resolve through
    # the Hadoop FileSystem API (makeQualified), so hdfs://-vs-default
    # spellings of one directory are caught too — see fsutil.py for
    # what stays best-effort. The rotation-dir contract itself is the
    # real protection: compaction never targets the live path.
    from hadoop_invertedindexer_spark.fsutil import guard_rotation

    guard_rotation(spark, path, dest_path, "index compaction")
    spark.read.parquet(f"{path}/{sub}").distinct().write.mode(
        "overwrite"
    ).parquet(f"{dest_path}/{sub}")
    if copy_params:
        spark.read.parquet(f"{path}/params").write.mode(
            "overwrite"
        ).parquet(f"{dest_path}/params")


def compact_exact_index(spark, path: str, dest_path: str) -> None:
    """Compact a document-hash index (:func:`build_exact_index` tier):
    distinct 32-byte keys rewritten into ``dest_path``."""
    _compact_key_tier(spark, path, dest_path, "hashes", copy_params=False)


def compact_window_index(spark, path: str, dest_path: str) -> None:
    """Compact a window-hash index (:func:`build_window_index` tier):
    distinct 8-byte window hashes + the n-param table rewritten into
    ``dest_path``, so the width assertion travels with the copy."""
    _compact_key_tier(spark, path, dest_path, "windows", copy_params=True)


def compact_sentence_index(spark, path: str, dest_path: str) -> None:
    """Compact a sentence-span index (:func:`build_sentence_index`
    tier): distinct 16-byte span keys + the span-param table."""
    _compact_key_tier(
        spark, path, dest_path, "sentences", copy_params=True
    )


def compact_paragraph_index(spark, path: str, dest_path: str) -> None:
    """Compact a paragraph-hash index (:func:`build_paragraph_index`
    tier): distinct 16-byte paragraph keys."""
    _compact_key_tier(
        spark, path, dest_path, "paragraphs", copy_params=False
    )


def compact_winnow_index(spark, path: str, dest_path: str) -> None:
    """Compact a winnow fingerprint index (:func:`build_winnow_index`
    tier): distinct (id, fp) postings + the (k, w) params table, so the
    selection contract travels with the copy."""
    _compact_key_tier(spark, path, dest_path, "fps", copy_params=True)


def compact_minhash_index(spark, path: str, dest_path: str) -> None:
    """Compact a MinHash-LSH index (:func:`build_minhash_index` tier):
    re-appending the same doc duplicates its signature AND banded rows,
    so both tables distinct-rewrite; the (num_perm, bands, n, portable)
    params table copies verbatim so batches keep hashing identically
    against the compacted copy."""
    _compact_key_tier(
        spark, path, dest_path, "signatures", copy_params=True
    )
    spark.read.parquet(f"{path}/banded").distinct().write.mode(
        "overwrite"
    ).parquet(f"{dest_path}/banded")


def index_tier_stats(
    spark, path: str, tables: tuple[str, ...] = ("hashes",)
) -> DataFrame:
    """Health/compaction-trigger report for a persisted index tier —
    the number every maintenance schedule reads before deciding to run
    a ``compact_*_index`` rotation: one row per stored table,
    (tier_table, n_rows, n_distinct, dup_rows, dup_mils). ``dup_rows``
    is exactly the byte-waste the append-mostly trade accumulates
    (re-appended keys land as duplicate rows) and exactly what the
    compactor reclaims — compact when ``dup_mils`` crosses the fleet's
    threshold, skip the rewrite when it hasn't.

    Table names per tier: exact → ``("hashes",)``; window →
    ``("windows",)``; sentence → ``("sentences",)``; paragraph →
    ``("paragraphs",)``; MinHash → ``("signatures", "banded")``;
    winnow → ``("fps",)``.

    Scale shape: per table, one count + one distinct-count — each a
    full scan of stored fixed-width keys with partial aggregation, no
    text, no join wider than a one-row broadcast cross join. All
    divisions have non-negative numerators (DIV ≡ //); a freshly
    truncated tier (n_rows = 0) reports dup_mils = 0, not NULL — the
    trigger metric must always be comparable against a threshold."""
    frames = []
    for t in tables:
        df = spark.read.parquet(f"{path}/{t}")
        n = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        d = df.distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct")
        )
        frames.append(
            n.crossJoin(F.broadcast(d)).select(
                F.lit(t).alias("tier_table"),
                "n_rows",
                "n_distinct",
                (F.col("n_rows") - F.col("n_distinct"))
                .cast("long")
                .alias("dup_rows"),
                F.expr(
                    "CASE WHEN n_rows = 0 THEN CAST(0 AS BIGINT)"
                    " ELSE (n_rows - n_distinct) * 1000 DIV n_rows END"
                ).alias("dup_mils"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# The persisted tiers, keyed by the name maintenance schedules
# use: stored tables (the index_tier_stats argument) + the compactor
# that rewrites ALL of a tier's tables into a rotation directory.
_TIERS: dict[str, tuple[tuple[str, ...], "object"]] = {
    "exact": (("hashes",), compact_exact_index),
    "window": (("windows",), compact_window_index),
    "sentence": (("sentences",), compact_sentence_index),
    "paragraph": (("paragraphs",), compact_paragraph_index),
    "minhash": (("signatures", "banded"), compact_minhash_index),
    "winnow": (("fps",), compact_winnow_index),
}


def maintain_index_tier(
    spark,
    path: str,
    dest_path: str,
    tier: str = "exact",
    max_dup_mils: int = 100,
) -> DataFrame:
    """Threshold-driven auto-compaction — the loop-closer that wires
    :func:`index_tier_stats` (the trigger) into ``compact_*_index``
    (the reclaim): read the tier's duplicate-mass stats, rotate a
    compacted copy into ``dest_path`` ONLY when any stored table's
    ``dup_mils`` exceeds ``max_dup_mils``, and report what happened —
    one row per stored table:

        (tier_table, n_rows, n_distinct, dup_rows, dup_mils,
         compacted, reclaimed_rows)

    ``compacted`` is tier-wide (a MinHash tier whose ``banded`` table
    is over threshold rewrites ``signatures`` too — the compactor owns
    the whole tier, so readers never see a half-rotated copy);
    ``reclaimed_rows`` is the table's ``dup_rows`` when the rotation
    ran, else 0. Below threshold NOTHING is written — ``dest_path``
    stays absent and ingest keeps appending to ``path``; after a
    triggered rotation the caller swaps its pointer to ``dest_path``
    (the rebuild_ivf_index rotation contract) and every incremental
    query answers identically against the compacted copy, because its
    first step is a distinct over the stored keys.

    Scale shape: the decision reads ONE aggregate row per stored table
    (a bounded, metadata-scale collect — the probe-then-extend pattern,
    never corpus data); the rotation itself is the compactor's
    read-distinct-rewrite of fixed-width keys. Idempotent by
    construction: maintaining a freshly compacted copy reads
    dup_mils = 0 everywhere and skips."""
    if tier not in _TIERS:
        raise ValueError(
            f"unknown index tier {tier!r}; one of {sorted(_TIERS)}"
        )
    tables, compactor = _TIERS[tier]
    stats = index_tier_stats(spark, path, tables).collect()
    compacted = any(r.dup_mils > max_dup_mils for r in stats)
    if compacted:
        compactor(spark, path, dest_path)
    rows = [
        (
            r.tier_table,
            r.n_rows,
            r.n_distinct,
            r.dup_rows,
            r.dup_mils,
            compacted,
            r.dup_rows if compacted else 0,
        )
        for r in stats
    ]
    return spark.createDataFrame(
        rows,
        "tier_table STRING, n_rows BIGINT, n_distinct BIGINT,"
        " dup_rows BIGINT, dup_mils BIGINT, compacted BOOLEAN,"
        " reclaimed_rows BIGINT",
    )
