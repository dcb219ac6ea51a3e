"""Plan-quality contracts: the physical plans the engine is designed to
produce (SURVEY §4). These guard the scale story — a regression that
turns a broadcast join into a sort-merge join or loses parquet pushdown
is a perf bug even while results stay correct."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from hadoop_invertedindexer_spark.sources.tables import read_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark):
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q1_pricing_summary"](spark, SF))
    assert "DataFilters: [isnotnull(l_shipdate" in plan
    # column pruning: the scan must not read l_orderkey/l_partkey/...
    scan_line = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "l_orderkey" not in scan_line and "l_partkey" not in scan_line


def test_projection_pruned_at_scan(spark):
    df = read_table(spark, SF, "documents").select("doc_id", "source")
    scan_line = next(
        line for line in _plan(df).splitlines() if "FileScan parquet" in line
    )
    assert "doc_id" in scan_line and "source" in scan_line
    assert "text" not in scan_line  # the big column is not read


def test_q6_all_predicates_pushed_to_scan(spark):
    """Q6 is pure scan-filter-agg: every predicate (date range, discount
    band, quantity cap) must reach the parquet reader so row-group
    min/max stats can skip data at scale."""
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q6_forecast_revenue"](spark, SF))
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"isnotnull({col}" in plan, f"{col} filter not pushed"
    # column pruning: only the four needed columns are read
    assert "ReadSchema" in scan and "l_orderkey" not in scan


def test_dim_joins_are_broadcast(spark):
    qs = entrymod.queries()
    plan = _plan(qs["join_broadcast"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    qs = entrymod.queries()
    plan = _plan(qs["topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + k-row merge


def test_q4_exists_compiles_to_semi_join(spark):
    """EXISTS must become LeftSemi (probe rows pass through at most once),
    never an inner join + distinct."""
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q4_priority_check"](spark, SF))
    assert "LeftSemi" in plan


def test_q22_not_exists_compiles_to_anti_join(spark):
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q22_global_sales"](spark, SF))
    assert "LeftAnti" in plan


def test_q21_decorrelated_form_has_no_correlated_rescans(spark):
    """The double-existential rewrite: exactly one order-level aggregate
    feeds the late-pairs join; lineitem appears in the plan twice (stats
    + late pairs), not three times as the correlated EXISTS/NOT EXISTS
    pair would scan it."""
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q21_waiting_suppliers"](spark, SF))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln and "lineitem" in ln]
    assert len(scans) == 2, f"expected 2 lineitem scans, got {len(scans)}"


def test_q19_part_side_predicates_prune_broadcast_build(spark):
    """The brand legs of the OR land on the part scan (each disjunct
    constrains p_brand, so Catalyst derives a pushable brand-IN filter)."""
    qs = entrymod.queries()
    plan = _plan(qs["tpch_q19_discounted_revenue"](spark, SF))
    part_scan = next(
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "part.parquet" in ln
    )
    assert "p_brand" in part_scan
    # the quantity legs symmetrically land on the lineitem scan
    li_scan = next(
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "lineite" in ln
    )
    assert "l_quantity" in li_scan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The train shingle stream must filter map-side against a broadcast
    of the (small) eval shingle set — no shuffle of the big side for
    the join."""
    qs = entrymod.queries()
    plan = _plan(qs["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_temperature_mix_broadcasts_quota_side(spark):
    qs = entrymod.queries()
    plan = _plan(qs["temperature_mix"](spark, SF))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_trailing_range_window_single_exchange(spark):
    """The RANGE-frame window costs exactly one hash exchange (by
    user_id); no join, no extra sort shuffles."""
    qs = entrymod.queries()
    plan = _plan(qs["window_trailing_range"](spark, SF))
    assert plan.count("Exchange") == 1


def test_aggregation_is_partial_then_final(spark):
    qs = entrymod.queries()
    plan = _plan(qs["agg_term_doc"](spark, SF))
    assert "partial_count" in plan or "partial_sum" in plan


def test_whole_stage_codegen_covers_flagship_tokenize(spark):
    from hadoop_invertedindexer_spark.plans import contract

    # AQE shows a placeholder plan before execution; disable it briefly so
    # the WholeStageCodegen spans are visible in the physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(contract.tokens_all(spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen stages print as '*(n)' in executedPlan.toString()
    assert "*(1)" in plan and "*(2)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_all_oracle_queries_stay_jvm_side(spark):
    """Engine-wide guard: no oracle-checked batch query may silently fall
    back to a row-at-a-time or Arrow Python UDF — the hot path must stay
    in codegen. (Python appears only in rows-only ops: SimHash's pandas
    UDF and the multimodal mapInPandas codec paths — the multimodal
    queries ARE oracle-paired, so they're exempted by name: mapInPandas
    is their documented Python extension point, like udtf_ngrams.)
    Streaming twins are skipped: building their 'plan' executes the run.
    udtf_ngrams is exempt by design: it IS the documented Python-UDTF
    extension point (functions/udtfs.py), oracle-paired on purpose."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    deliberate_python = {
        "udtf_ngrams",
        # the real-codec multimodal paths: mapInPandas IS the operator
        "multimodal_decode",
        "multimodal_resize",
        "multimodal_frames",
        # media dedup runs over synthesize_media (mapInPandas render) and
        # media_ahash decodes via the real codec — oracle-paired through
        # the SQL geometry restatement
        "media_dedup_exact",
        "media_ahash",
        "media_near_dup",
        "multimodal_features_hist",
        # the audio modality: synthesize/decode/feature mapInPandas is
        # the operator, oracle-paired via the SAU1 geometry restatement
        "audio_meta",
        "audio_features",
        # the documented pandas-UDF exception (64-way bit vote), now
        # oracle-paired via the md5 bit-vote SQL restatement — Python
        # by design, value-checked end-to-end
        "dedup_simhash",
    }
    # Maintainer wrappers run their whole build/append/rebuild lifecycle
    # EAGERLY at construction and return a one-row createDataFrame
    # report — a LocalTableScan that cannot contain a Python node, so
    # constructing them here bought ~40 s of index builds per suite run
    # and checked nothing (r15, VERDICT r14 item 5). Their internal
    # operators' plans ARE covered: every build/query/drift/encode stage
    # appears below as its own oracle query (similarity_ivfpq*, ivf_drift,
    # ivfpq_qerr, bpe_*, dsir_*, index_tier_stats, ...).
    degenerate_report_plans = {
        "maintain_index_tier",
        "maintain_ivf_index",
        "maintain_bpe_model",
        "maintain_dsir_model",
        "maintain_ivfpq_index",
        "maintain_ivfpq_qerr",
    }
    offenders = []
    for name in sorted(qs):
        if (
            name not in oracles
            or name.startswith("stream_")
            or name in deliberate_python
            or name in degenerate_report_plans
        ):
            continue
        plan = _plan(qs[name](spark, SF))
        if (
            "BatchEvalPython" in plan
            or "ArrowEvalPython" in plan
            or "MapInPandas" in plan
        ):
            offenders.append(name)
    assert not offenders, f"Python in hot path: {offenders}"


def test_oracle_keys_subset_of_queries(spark):
    """Contract hygiene: every oracle entry must pair with a query."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)


def test_big_big_join_goes_sort_merge_when_broadcast_off(spark):
    """At 100 TB neither lineitem nor orders broadcasts; the plan must be
    a SortMergeJoin (simulated by disabling the broadcast threshold)."""
    li = read_table(spark, SF, "lineitem")
    o = read_table(spark, SF, "orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(li.join(o, li.l_orderkey == o.o_orderkey))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan


def test_bucketed_tables_join_without_exchange(spark):
    """Co-located join: both sides bucketed on the join key -> no shuffle
    exchange on either side of the SortMergeJoin."""
    from hadoop_invertedindexer_spark.sources.sinks import sink_bucketed_table

    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    sink_bucketed_table(li, "li_bkt", "l_orderkey", 4)
    sink_bucketed_table(o, "o_bkt", "o_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j = spark.table("li_bkt").join(
            spark.table("o_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # bucketing removed both shuffles
    assert "SelectedBucketsCount" in plan


def test_partitioned_sink_enables_partition_pruning(spark, tmp_path):
    """write.partitionBy -> a filter on the partition column becomes a
    PartitionFilter (pruned directories), not a data filter."""
    from hadoop_invertedindexer_spark.sources.sinks import sink_parquet

    docs = read_table(spark, SF, "documents")
    path = str(tmp_path / "by_lang")
    sink_parquet(docs, path, partition_by=["lang"])
    back = spark.read.parquet(path).where(F.col("lang") == "en")
    scan_line = next(
        line for line in _plan(back).splitlines() if "FileScan parquet" in line
    )
    assert "PartitionFilters" in scan_line and "lang" in scan_line.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # correctness of the round trip under partitioning
    n_direct = docs.where(F.col("lang") == "en").count()
    assert back.count() == n_direct


def test_stopword_antijoin_broadcasts(spark):
    from hadoop_invertedindexer_spark.functions.textprep import filter_stopwords

    docs = read_table(spark, SF, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    sw = spark.createDataFrame([("the",), ("and",)], ["word"])
    plan = _plan(filter_stopwords(docs, sw))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_join_hints_override_strategy(spark):
    """Join-strategy hints are honored: MERGE forces SortMergeJoin on a
    broadcastable dim; SHUFFLE_HASH forces ShuffledHashJoin."""
    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, SF, "part").select("p_partkey")
    merged = li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
    assert "SortMergeJoin" in _plan(merged)
    hashed = li.join(p.hint("shuffle_hash"), li.l_partkey == p.p_partkey)
    assert "ShuffledHashJoin" in _plan(hashed)
    # and without hints the small dim broadcasts
    free = li.join(p, li.l_partkey == p.p_partkey)
    assert "BroadcastHashJoin" in _plan(free)


def test_duplicate_passages_dup_side_never_broadcasts(spark):
    """The duplicated-shingle set is bounded only by true cross-doc
    duplication — on a duplicate-heavy corpus it approaches the full
    shingle vocabulary, so the interval join must be a shuffled hash
    join (both sides exchange on the 8-byte key), never a driver
    broadcast build. Pinned after the 10x soak corpus blew a 64 MB
    broadcast here."""
    from hadoop_invertedindexer_spark.operators.dedup import duplicate_passages

    docs = read_table(spark, SF, "documents")
    plan = _plan(duplicate_passages(docs, n=8, min_docs=2))
    assert "ShuffledHashJoin" in plan


def test_bloom_decontaminate_single_row_broadcast(spark):
    """The bloom probe joins the train shingle stream with the ONE-ROW
    bitmap frame (broadcast nested loop), and all k bit tests are fused
    into the projection — no per-position explode multiplies the train
    stream."""
    from hadoop_invertedindexer_spark.operators.dedup import bloom_decontaminate

    docs = read_table(spark, SF, "documents")
    plan = _plan(
        bloom_decontaminate(
            docs.where(F.col("doc_id") % 50 != 0),
            docs.where(F.col("doc_id") % 50 == 0),
            n=3,
        )
    )
    bnlj = next(ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln)
    assert "bit_get" in bnlj  # all k bit tests fused into the join condition
    # three explodes total: the train shingle stream plus TWO on the tiny
    # eval build side (its shingles + its k positions). The k-position
    # explode must appear exactly once — i.e. only inside the bitmap
    # build, never on the train stream
    assert plan.count("Generate explode(array(pmod") == 1


def test_psl_cascade_is_all_broadcast_no_corpus_shuffle(spark):
    """The full-rule PSL match (r7) is a cascade of broadcast equi-joins
    on derived last-N-label keys: the corpus side must never exchange
    and no join may degrade to sort-merge — each rule tier is a tiny
    broadcast build."""
    from hadoop_invertedindexer_spark.functions import urls

    # host must be a real column (a literal constant-folds the join keys
    # and degrades the joins to BNLJ in the test plan only)
    d = read_table(spark, SF, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".co.uk")).alias("host"),
    )
    plan = _plan(urls.with_registered_domain_psl(d, "host", "domain"))
    # one exact-key join per rule depth (maxN=3) + wildcard tiers — all
    # broadcast hash joins; the only hash exchanges allowed are the tiny
    # rule-side groupBys INSIDE broadcast builds, never a corpus-side
    # sort-merge or shuffled join
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_semantic_dedup_bounded_assignment_is_broadcast(spark):
    """The bounded-K default's nearest-centroid pass must broadcast the
    (fixed-size) centroid frame against the corpus — a corpus-side
    exchange before assignment would mean the centroids stopped being
    the build side."""
    from hadoop_invertedindexer_spark.operators import similarity

    emb = read_table(spark, SF, "embeddings")
    plan = _plan(similarity.semantic_dedup(emb, threshold=0.4, k=16))
    assert "BroadcastNestedLoopJoin" in plan


def test_pack_tokens_prefix_sum_is_two_level(spark):
    """The packing offsets must come from the bucketed two-level prefix
    sum: exactly ONE single-partition exchange (the bucket SUMMARY frame
    — D/bucket_size rows), never the doc-level rows; the per-doc window
    partitions by bucket (hash exchange)."""
    from hadoop_invertedindexer_spark.operators import vocab

    d = read_table(spark, SF, "documents")
    plan = _plan(
        vocab.pack_tokens(d, vocab.build_vocab(d, max_size=32),
                          block_size=128, bucket_size=64)
    )
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(_bkt" in plan


def test_dedup_substrings_unbounded_joins_never_broadcast(spark):
    """r8: both unbounded-side joins (duplicated-window keeper, removal
    spans) must be shuffled hash joins — the duplicate-heavy-corpus
    broadcast trap measured on duplicate_passages' 10x soak. And NO
    global window: every sweep window is partitioned by doc id."""
    from hadoop_invertedindexer_spark.operators.dedup import dedup_substrings

    docs = read_table(spark, SF, "documents")
    plan = _plan(dedup_substrings(docs, n=8))
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    # windows partition by id — no single-partition sort of the sweep
    assert "Exchange SinglePartition" not in plan


def test_dedup_sentences_unbounded_joins_never_broadcast(spark):
    """r10: the sentence-granularity twin of the dedup_substrings plan
    contract — duplicated-span keeper join and removal-span join are
    shuffled hash joins on high-cardinality keys (span hash / doc id),
    never broadcasts; every sweep window partitions by doc id, so no
    single-partition stage; and the whole operator stays JVM-side."""
    from hadoop_invertedindexer_spark.operators.dedup import dedup_sentences

    docs = read_table(spark, SF, "documents")
    plan = _plan(dedup_sentences(docs))
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_sentences_semi_join_shuffle_hash(spark):
    """r10: the train-vs-eval semi join pins shuffle_hash (the
    distinct-of-spans eval frame is the under-estimated aggregate shape
    Catalyst loves to broadcast), the sweep windows partition by doc
    id, and the operator stays JVM-side."""
    from hadoop_invertedindexer_spark.operators.dedup import (
        decontaminate_sentences,
    )

    docs = read_table(spark, SF, "documents")
    plan = _plan(
        decontaminate_sentences(
            docs.where("doc_id % 50 != 0"), docs.where("doc_id % 50 = 0")
        )
    )
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_nll_model_tables_broadcast(spark):
    """r8: all five model-side joins (uni, bigram, bigram-context,
    trigram, trigram-context) plus the stats frame enter through
    broadcast — the scored token stream never shuffles to meet the
    model; its only exchange is the per-doc aggregate."""
    from hadoop_invertedindexer_spark.functions.textstats import ngram_nll

    docs = read_table(spark, SF, "documents")
    plan = _plan(ngram_nll(docs, max_vocab=64, max_ngrams=128))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    # model caps ride TakeOrderedAndProject, never a global sort window
    assert plan.count("TakeOrderedAndProject") >= 3


def test_bpe_pair_argmax_is_take_ordered(spark):
    """r8: each merge's argmax must be the distributed top-1
    (TakeOrderedAndProject), never a global sort or single-task
    window over the pair counts."""
    from pyspark.sql import functions as F2

    from hadoop_invertedindexer_spark.operators.dedup import token_array

    docs = read_table(spark, SF, "documents")
    words = (
        docs.select(
            F2.explode(
                F2.filter(token_array("text"), lambda t: t != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F2.count(F2.lit(1)).alias("cnt"))
        .select(
            F2.concat_ws(" ", F2.split("word", "")).alias("ws"), "cnt"
        )
    )
    syms = F2.split("ws", " ")
    pair_arr = F2.transform(
        syms,
        lambda s, i: F2.when(
            i >= 1,
            F2.concat(F2.element_at(F2.split("ws", " "), i), F2.lit(" "), s),
        ),
    )
    top = (
        words.select(
            F2.explode(F2.filter(pair_arr, lambda p: p.isNotNull())).alias(
                "pair"
            ),
            "cnt",
        )
        .groupBy("pair")
        .agg(F2.sum("cnt").alias("freq"))
        .orderBy(F2.desc("freq"), F2.asc("pair"))
        .limit(1)
    )
    assert "TakeOrderedAndProject" in _plan(top)


def test_decontaminate_substrings_probe_is_semi_join(spark):
    """r8: the eval-window probe must be a LEFT SEMI shuffled hash join
    (matched windows never fan out; the contamination volume is
    unbounded, so no broadcast build) and the span join stays shuffled
    too."""
    from hadoop_invertedindexer_spark.operators.dedup import (
        decontaminate_substrings,
    )

    d = read_table(spark, SF, "documents")
    plan = _plan(
        decontaminate_substrings(
            d.where("doc_id % 50 != 0"), d.where("doc_id % 50 = 0"), n=8
        )
    )
    assert "LeftSemi" in plan
    assert plan.count("ShuffledHashJoin") >= 2
    assert "Exchange SinglePartition" not in plan


def test_dsir_model_join_broadcast_and_topk_take_ordered(spark):
    """DSIR's scale contract: the log-ratio model (n_buckets rows) must
    reach the per-doc scoring join as a BROADCAST, and the final top-k
    must be TakeOrderedAndProject — never a global sort of the scored
    pool."""
    qs = entrymod.queries()
    plan = _plan(qs["dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    from hadoop_invertedindexer_spark.caching import release_persisted

    release_persisted()


def test_dedup_paragraphs_no_corpus_window_no_cartesian(spark):
    """Paragraph dedup's canonical pick is a partial-aggregated groupBy
    on the hash key — a corpus-wide Window (or any cartesian pairing)
    here would be the O(N log N)-single-partition / N² regression the
    operator was shaped to avoid."""
    qs = entrymod.queries()
    plan = _plan(qs["dedup_paragraphs"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine on the canonical pick


def test_epoch_shuffle_no_global_sort_one_exchange(spark):
    """The per-epoch permutation must sort WITHIN shards, never
    globally: a global=true Sort here would funnel the corpus through
    one task ordering at 100 TB. One shard-keyed exchange feeds both
    the window sort and the output layout."""
    qs = entrymod.queries()
    plan = _plan(qs["epoch_shuffle"](spark, SF))
    assert "global=true" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_urls_single_exchange_no_text(spark):
    """URL dedup shuffles exactly one (canon_url, id) exchange with
    map-side combine — page content must never move (the reason the URL
    pass runs before any text pass)."""
    qs = entrymod.queries()
    plan = _plan(qs["dedup_urls"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan  # map-side keeper combine
    assert "text" not in plan  # the text column never enters the plan


def test_mixture_plan_weight_join_broadcast(spark):
    """The plan frame is metadata-scale: one corpus aggregate down to
    |strata| rows, then the literal weight table joins BROADCAST — a
    shuffle join against a VALUES table would be pure overhead."""
    qs = entrymod.queries()
    plan = _plan(qs["mixture_plan"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_data_card_two_exchanges_no_broadcast(spark):
    """r10: the data-card report pays exactly the shuffles it needs —
    one exchange on the high-cardinality normalized text (the dup
    window) and one partially-aggregated metadata-scale groupBy; the
    lang/quality/token expressions are pure codegen, nothing corpus-
    sized broadcasts, and no single-partition stage exists."""
    from hadoop_invertedindexer_spark.operators.sampling import data_card
    from hadoop_invertedindexer_spark.plans.contract_llm import STOPWORDS

    docs = read_table(spark, SF, "documents")
    plan = _plan(data_card(docs, STOPWORDS))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_predict_broadcast_weights_partial_agg(spark):
    """Inference = one broadcast join against the ≤ n_features weight
    table + one partially-aggregated per-doc margin — the corpus
    shuffles once, the model never does."""
    from hadoop_invertedindexer_spark.functions import textstats

    docs = read_table(spark, SF, "documents")
    w = spark.createDataFrame([(1, 5)], "feature int, weight long")
    plan = _plan(textstats.classifier_predict(docs, w, n_features=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_classifier_bigram_features_keep_the_plan_shape(spark):
    """wordNgrams=2 (r10) widens the explode to tokens + zip_with
    bigrams but must not change the plan contract: still ONE broadcast
    join against the weight table, one partially-aggregated per-doc
    margin, and no per-row Python."""
    from hadoop_invertedindexer_spark.functions import textstats

    docs = read_table(spark, SF, "documents")
    w = spark.createDataFrame([(1, 5)], "feature int, weight long")
    plan = _plan(
        textstats.classifier_predict(docs, w, n_features=64, word_ngrams=2)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_auc_never_sorts_the_corpus(spark):
    """r10: AUC computes over the GROUPED margin histogram — the corpus
    pays one partial aggregate; the only single-partition stage is the
    window over the metadata-scale histogram, and no range partitioning
    (a global per-row sort) exists anywhere."""
    from hadoop_invertedindexer_spark.functions import textstats

    scored = read_table(spark, SF, "documents").select(
        (F.col("doc_id") % 7 - 3).cast("long").alias("margin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(-1).alias("y"),
    )
    plan = _plan(textstats.classifier_auc(scored))
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange SinglePartition") <= 2  # histogram window + one-row fold
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_calibration_never_sorts_the_corpus(spark):
    """r11: the reliability report computes over the same grouped
    margin histogram as classifier_auc — one corpus partial aggregate,
    a one-row min/max broadcast, and a metadata-scale bin rollup; no
    range partitioning, no Python."""
    from hadoop_invertedindexer_spark.functions import textstats

    scored = read_table(spark, SF, "documents").select(
        (F.col("doc_id") % 7 - 3).cast("long").alias("margin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(-1).alias("y"),
    )
    plan = _plan(textstats.classifier_calibration(scored))
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row min/max stats
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_pr_sweep_never_sorts_the_corpus(spark):
    """r11: the threshold sweep rides the grouped margin histogram —
    the only ordered window runs over that metadata-scale frame; no
    range partitioning of the corpus, no Python."""
    from hadoop_invertedindexer_spark.functions import textstats

    scored = read_table(spark, SF, "documents").select(
        (F.col("doc_id") % 7 - 3).cast("long").alias("margin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(-1).alias("y"),
    )
    plan = _plan(textstats.classifier_pr_sweep(scored))
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange SinglePartition") <= 2  # histogram window + sentinel agg
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dataset_diff_one_fullouter_fingerprints_only(spark):
    """r10: both sides reduce to (id, md5) BEFORE the single full outer
    join — two hash exchanges move 16-byte fingerprints, never text,
    and nothing broadcasts (full outer cannot)."""
    from hadoop_invertedindexer_spark.operators.maintenance import (
        dataset_diff,
    )

    d = read_table(spark, SF, "documents")
    plan = _plan(
        dataset_diff(
            d.where(F.col("doc_id") % 13 != 0),
            d.where(F.col("doc_id") % 11 != 0),
        )
    )
    assert "FullOuter" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" not in plan
    # the exchanges carry the fingerprint projection, not raw text
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_fp_" in line or "_id" in line
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_exact_incremental_anti_join_shuffle_hash(spark, tmp_path):
    """r10: the index anti join is pinned ShuffledHashJoin (the index
    side is unbounded — the Catalyst broadcast-underestimate trap), and
    the keeper aggregate keeps its map-side combine."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    path = str(tmp_path / "exidx")
    dedup.build_exact_index(d.where(F.col("doc_id") < 250), path)
    plan = _plan(
        dedup.dedup_exact_incremental(
            spark, d.where(F.col("doc_id") >= 250), path
        )
    )
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    assert "partial_min" in plan  # map-side keeper combine


def test_data_card_incremental_index_join_shuffle_hash(spark, tmp_path):
    """r10: the published-membership join is pinned ShuffledHashJoin —
    nothing corpus- or index-sized may broadcast; the rollup keeps
    data_card's partial aggregation."""
    from hadoop_invertedindexer_spark.operators import dedup, sampling
    from hadoop_invertedindexer_spark.plans.contract_llm import STOPWORDS

    d = read_table(spark, SF, "documents")
    path = str(tmp_path / "exidx")
    dedup.build_exact_index(d.where(F.col("doc_id") < 250), path)
    plan = _plan(
        sampling.data_card_incremental(
            spark, d.where(F.col("doc_id") >= 250), path, STOPWORDS
        )
    )
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_coverage_broadcasts_the_vocab(spark):
    """r10: the coverage report joins the token stream against the
    bounded vocab BROADCAST — the stream must never shuffle to meet the
    model — and rolls up with partial aggregation."""
    from hadoop_invertedindexer_spark.operators import vocab

    d = read_table(spark, SF, "documents")
    plan = _plan(vocab.vocab_coverage(d, vocab.build_vocab(d, max_size=32)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_report_sentences_semi_join_shuffle_hash(spark):
    """r10: the train-side distinct span-key frame is the classic
    Catalyst broadcast-underestimate shape — the SEMI join must stay
    pinned ShuffledHashJoin (the eval-scale coverage join-back may
    broadcast: it is benchmark-sized by construction), and the islands
    run windowed by eval id, never single-partition."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(
        dedup.contamination_report_sentences(
            train=d.where(F.col("doc_id") % 50 != 0),
            evalset=d.where(F.col("doc_id") % 50 == 0),
        )
    )
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines and all(
        "ShuffledHashJoin" in ln for ln in semi_lines
    )
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_shares_jaccard_plan_shape(spark):
    """r10: containment must inherit the jaccard envelope — the capped
    shingle self-join with map-side combines, no cartesian product, no
    Python; the direction split is a projection, not another join."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.containment_pairs(d, n=3, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # r11: every unbounded-side join pins shuffle_hash — the 30x pair
    # soak caught Catalyst broadcasting the df-cap aggregate and the
    # self-join side instead (the r4 OOM shape at 100 TB)
    assert plan.count("ShuffledHashJoin") >= 4
    assert "BroadcastHashJoin" not in plan


def test_winnow_pairs_never_broadcasts_corpus_frames(spark):
    """r11: the winnow pair join's df-cap frame and both self-join
    sides are corpus-derived — all pinned shuffle_hash, same posture as
    the shingle family."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.winnow_overlap_pairs(d, k=5, w=4))
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_escalated_containment_keeps_the_shj_posture(spark):
    """r12: tiered-cap escalation must not reopen the r11 broadcast
    hole — the per-key df frame and both self-join sides stay pinned
    shuffle_hash; the ONLY broadcast is the chosen one-row cap riding
    a nested-loop join (never a BroadcastHashJoin of corpus data), and
    the tier fanout is a broadcast of the literal tier list."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(
        dedup.containment_pairs(
            d, n=3, threshold=0.8, max_df=100,
            max_df_tiers=(100, 400), max_dropped_mils=1,
        )
    )
    assert plan.count("ShuffledHashJoin") >= 4
    assert "BroadcastHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the one-row chosen-cap broadcast is the allowed nested loop
    assert "BroadcastNestedLoopJoin" in plan


def test_cap_report_is_cheaper_than_the_join_it_audits(spark):
    """r12: the cap-hit report is a per-key aggregate + one global
    rollup — NO self-join, no Python, nothing broadcast; it must stay
    strictly cheaper than the pair join it audits."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    for rep in (
        dedup.shingle_cap_report(d, n=3, max_df=100),
        dedup.winnow_cap_report(d, k=5, w=4, max_df=100),
    ):
        plan = _plan(rep)
        assert "ShuffledHashJoin" not in plan  # no join at all
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_minhash_band_report_pins_and_no_python(spark):
    """r12: the band report's candidate count shares the pair search's
    self-join — the corpus-scale sides must stay shuffle_hash-pinned
    (a banded frame is a post-explode corpus aggregate, exactly where
    Catalyst's size under-estimates are broadcast-prone), the one-row
    stat frames may only meet in broadcast nested loops, and no Python
    may appear."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.minhash_band_report(d))
    assert plan.count("ShuffledHashJoin") >= 1  # the candidate self-join
    assert "BroadcastHashJoin" not in plan  # no corpus-derived broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_index_pairs_batch_broadcast_only(spark, tmp_path):
    """r13: the incremental winnow query's only broadcasts are the
    BATCH side of the pair join (deliberate — the minhash_index_pairs
    posture) ; the stop-fp cap joins stay shuffle_hash (cap frame =
    corpus-derived aggregate), the stored postings never broadcast,
    and the direct path's quadratic corpus self-join is gone."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    path = str(tmp_path / "wfidx")
    dedup.build_winnow_index(d.where("doc_id < 250"), path)
    plan = _plan(
        dedup.winnow_index_pairs(
            spark, d.where("doc_id >= 250"), path
        )
    )
    assert plan.count("ShuffledHashJoin") >= 2  # the two cap joins
    # batch-side broadcasts only: one per pair-join consumer of the
    # tiny batch frame, never the stored index postings
    assert 1 <= plan.count("BroadcastHashJoin") <= 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_pairs_bounded_plan_posture(spark):
    """r13: the per-doc top-k bound must keep the pair join's SHJ
    posture (the bound sits downstream of winnow_overlap_pairs) and
    compile its rank filter to WindowGroupLimit — partial
    per-partition limits before the rank exchange, the property that
    stops a hub doc's full neighbor list landing on one task. No
    corpus broadcast, no Python."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.winnow_pairs_bounded(d, k=5, w=4, per_doc_k=10))
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_bounded_report_one_row_broadcasts_only(spark):
    """r13: the truncation report reads the persisted pair frame three
    ways and reduces each to one row — the only broadcasts are those
    one-row stat frames meeting in nested loops, never a
    BroadcastHashJoin of corpus data."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.winnow_bounded_report(d, k=5, w=4, per_doc_k=10))
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cap_recall_estimate_shj_and_bounded_expansion(spark):
    """r13: the estimated-missed-pairs audit self-joins ONLY the
    md5-sampled expandable keys' postings — the expandable-key frame
    is a corpus-derived aggregate and both join sides are corpus
    postings, so everything stays shuffle_hash; the one-row stat
    frames ride broadcast nested loops; no Python."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(
        dedup.shingle_cap_recall_estimate(
            d, n=3, max_df=100, sample_inv=8, expand_max_df=2000
        )
    )
    assert plan.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_windows_partition_by_doc(spark):
    """r10: every winnowing window partitions by the doc id — no
    single-partition stage and no range partitioning (a global sort)
    may appear; selection and decode are pure projections."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = read_table(spark, SF, "documents")
    plan = _plan(dedup.winnow_fingerprints(d, k=5, w=4))
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_read_path_prunes_and_never_smj(spark):
    """The compressed ANN read path (r13): the persisted codes scan must
    dynamically prune to the probed buckets, every join must be a
    broadcast of a QUERY-derived frame (probes / ADC table / centroids
    — all bounded by the query set), and no sort-merge join may appear:
    the corpus side is never shuffled for a probe."""
    qs = entrymod.queries()
    plan = _plan(qs["similarity_ivfpq_read"](spark, SF))
    assert "dynamicpruning" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_hybrid_rrf_fusion_is_metadata_scale(spark):
    """RRF fuses two top-k lists: the fusion itself must add no join at
    all (a union + one aggregate over k+k rows) — any join in the plan
    belongs to the backends, and the corpus side must not SMJ."""
    qs = entrymod.queries()
    plan = _plan(qs["hybrid_search_rrf"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "Union" in plan


def test_word_ngrams_tokenizes_once_per_row(spark):
    """The token array is bound to a lambda variable, so the normalize
    chain appears once in the plan; referenced inside the per-gram
    lambda it would run once per shingle and twice more for the size
    checks."""
    from hadoop_invertedindexer_spark.operators import dedup

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")

    def lowers(df) -> int:
        return df._jdf.queryExecution().optimizedPlan().toString().count("lower(")

    assert lowers(d.select(dedup.word_ngrams("text", 3).alias("g"))) == 1
    assert lowers(dedup.minhash_signatures(d)) == 1
