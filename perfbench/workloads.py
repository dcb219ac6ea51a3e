"""The three workloads. Each drives the engine only through public
functions of its layers and has four parts:

* ``register``: the set-up step after a session starts (read the inputs
  once);
* ``op``: one unit operation, timed as a whole; ``warm_ups`` untimed
  ones run first;
* ``traced_op``: the same operation with a span around each layer call,
  where a layer's self time comes from materializing successive prefixes
  of the plan to the ``noop`` sink;
* ``check``: the output check, run outside every timed region.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_invertedindexer_spark.caching import release_persisted
from hadoop_invertedindexer_spark.functions.textprep import prepare_tokens
from hadoop_invertedindexer_spark.operators.dedup import (
    append_minhash_index,
    build_minhash_index,
    maintain_index_tier,
    minhash_band_report,
    minhash_index_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    word_ngrams,
)
from hadoop_invertedindexer_spark.operators.index import (
    format_index,
    postings,
    term_doc_counts,
)
from hadoop_invertedindexer_spark.plans.flagship import build_inverted_index
from hadoop_invertedindexer_spark.sources.sinks import sink_parquet, sink_text
from hadoop_invertedindexer_spark.sources.tables import spread_partitions
from hadoop_invertedindexer_spark.sources.text import load_stopwords, scan_text
from perfbench.checks import NearDupTruth, check_index, check_maintain, check_near_dup
from perfbench.gen import MAINTAIN_FIRST_ID
from perfbench.trace import SparkActivity, Tracer

# MinHash parameters: the engine defaults, stated once for the checks
BANDS = 16


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def noop(df: DataFrame) -> None:
    """Materialize ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


def _self_times(tracer: Tracer, steps: list[tuple[str, str]]) -> dict[str, float]:
    """Self time of each step of a prefix chain: its span minus the span
    of the prefix before it. ``steps`` pairs a span name with the metric
    name, in chain order."""
    out, before = {}, 0.0
    for span_name, metric in steps:
        t = tracer.named(span_name)[-1].seconds
        out[metric] = t - before
        before = t
    return out


def shingle_rows(docs: DataFrame) -> DataFrame:
    """The shingling prefix of ``minhash_signatures``: spread the docs,
    one row per word 3-gram."""
    return spread_partitions(docs, "doc_id").select(
        F.explode(word_ngrams("text", 3)).alias("sh")
    )


class IndexBuild:
    """The flagship job: the reference's inverted index, one sorted file."""

    name = "index_build"
    warm_ups = 2  # the JIT settles after two builds

    def __init__(self, inputs: str, info: dict):
        self.corpus = os.path.join(inputs, "corpus")
        self.stop_file = os.path.join(inputs, "stopwords.txt")
        with open(os.path.join(inputs, "index_expected.txt"), "rb") as f:
            self.expected = f.read()
        self.input_bytes = info["corpus"]["bytes"]

    def register(self, spark: SparkSession) -> None:
        self.stopwords = load_stopwords(self.stop_file)
        scan_text(spark, self.corpus).count()

    def op(self, spark: SparkSession, out: str) -> str:
        build_inverted_index(spark, self.corpus, out, self.stop_file, single_file=True)
        return out

    def traced_op(self, spark: SparkSession, out: str, tracer: Tracer) -> str:
        lines = scan_text(spark, self.corpus)
        toks = prepare_tokens(lines, text_col="line", stopwords=self.stopwords)
        counts = term_doc_counts(toks)
        post = postings(counts)
        rendered = format_index(post.orderBy("word"))
        for span, df in (
            ("text.scan", lines),
            ("textprep", toks),
            ("index.counts", counts),
            ("index.postings", post),
            ("index.format_sort", rendered),
        ):
            with tracer.span(span):
                noop(df)
        with tracer.span("sinks"):
            sink_text(rendered, out, single_file=True)
        return out

    def layer_counts(self, spark: SparkSession) -> dict[str, int]:
        lines = scan_text(spark, self.corpus)
        toks = prepare_tokens(lines, text_col="line", stopwords=self.stopwords)
        counts = term_doc_counts(toks)
        return {
            "text.lines": lines.count(),
            "textprep.tokens_accepted": toks.count(),
            "index.postings": counts.count(),
            "index.terms": postings(counts).count(),
        }

    def check(self, out: str) -> list[str]:
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        if len(parts) != 1:
            return [f"expected one part file, found {len(parts)}"]
        with open(parts[0], "rb") as f:
            return check_index(f.read(), self.expected)

    def stored_bytes(self, out: str) -> int:
        return dir_bytes(out)

    def layer_metrics(self, tracer: Tracer, activity: SparkActivity, out: str) -> dict:
        m = _self_times(
            tracer,
            [
                ("text.scan", "text.scan_s"),
                ("textprep", "textprep.self_s"),
                ("index.counts", "index.counts_self_s"),
                ("index.postings", "index.postings_self_s"),
                ("index.format_sort", "index.format_sort_self_s"),
                ("sinks", "sinks.self_s"),
            ],
        )
        return {**m, "sinks.bytes_written": dir_bytes(out)}


class NearDup:
    """MinHash-LSH near-duplicate pairs of a documents table, written as
    parquet."""

    name = "near_dup"
    warm_ups = 2  # as for index_build

    def __init__(self, inputs: str, info: dict):
        self.path = os.path.join(inputs, "near_docs.parquet")
        table = pq.read_table(self.path).to_pydict()
        self.truth = NearDupTruth(
            dict(zip(table["doc_id"], table["text"])),
            [tuple(p) for p in info["near_planted"]],
        )
        self.input_bytes = info["near_docs"]["bytes"]

    def register(self, spark: SparkSession) -> None:
        self.docs = spark.read.parquet(self.path)
        self.docs.count()

    def op(self, spark: SparkSession, out: str) -> str:
        sink_parquet(minhash_lsh_pairs(self.docs), out)
        return out

    def traced_op(self, spark: SparkSession, out: str, tracer: Tracer) -> str:
        with tracer.span("dedup.shingle"):
            noop(shingle_rows(self.docs))
        with tracer.span("dedup.signature"):
            noop(minhash_signatures(self.docs))
        with tracer.span("dedup.band_report"):
            self.candidate_pairs = minhash_band_report(self.docs).first().candidate_pairs
        release_persisted()
        # fresh plans, so the sink does not reuse the signatures that the
        # pairs prefix persisted
        with tracer.span("dedup.pairs"):
            noop(minhash_lsh_pairs(self.docs))
        release_persisted()
        with tracer.span("sinks"):
            sink_parquet(minhash_lsh_pairs(self.docs), out)
        return out

    def layer_counts(self, spark: SparkSession) -> dict[str, int]:
        return {"dedup.shingles": shingle_rows(self.docs).count()}

    def check(self, out: str) -> list[str]:
        t = pq.read_table(out).to_pydict()
        return check_near_dup(list(zip(t["id_a"], t["id_b"], t["est_jaccard"])), self.truth)

    def stored_bytes(self, out: str) -> int:
        return dir_bytes(out)

    def layer_metrics(self, tracer: Tracer, activity: SparkActivity, out: str) -> dict:
        m = _self_times(
            tracer,
            [
                ("dedup.shingle", "dedup.shingle_s"),
                ("dedup.signature", "dedup.signature_self_s"),
                ("dedup.pairs", "dedup.pairs_self_s"),
                ("sinks", "sinks.self_s"),
            ],
        )
        kept = pq.read_table(out).num_rows
        return {
            **m,
            "dedup.candidate_pairs": self.candidate_pairs,
            "dedup.pairs_kept": kept,
            "dedup.kept_ratio": kept / max(self.candidate_pairs, 1),
            "sinks.bytes_written": dir_bytes(out),
        }


class IndexMaintain:
    """The persisted MinHash tier's lifecycle: build over the base docs;
    per batch, query then append; replay one append; compact."""

    name = "index_maintain"
    warm_ups = 1  # a lifecycle is long enough to warm itself
    phases = ("build", "query", "append", "compact")

    def __init__(self, inputs: str, info: dict):
        self.path = os.path.join(inputs, "maintain_docs.parquet")
        m = info["maintain_docs"]
        self.first_batch_id = MAINTAIN_FIRST_ID + m["base_docs"]
        self.n_batches, self.batch_docs = m["batches"], m["batch_docs"]
        self.input_bytes = m["bytes"]
        self.full_pairs_file = os.path.join(inputs, "maintain_full_pairs.json")

    def register(self, spark: SparkSession) -> None:
        docs = spark.read.parquet(self.path)
        self.docs = docs
        self.base = docs.where(F.col("doc_id") < self.first_batch_id)
        self.batches = []
        for i in range(self.n_batches):
            lo = self.first_batch_id + i * self.batch_docs
            self.batches.append(docs.where(F.col("doc_id").between(lo, lo + self.batch_docs - 1)))
        docs.count()

    def _lifecycle(self, spark, out: str, batches: list[DataFrame], tracer: Tracer | None) -> dict:
        index, compacted = os.path.join(out, "index"), os.path.join(out, "compacted")
        tracer = tracer or Tracer()
        pairs: list[tuple[int, int, float]] = []
        with tracer.span("maintain.build"):
            build_minhash_index(self.base, index)
        for batch in batches:
            with tracer.span("maintain.query"):
                pairs += [tuple(r) for r in minhash_index_pairs(spark, batch, index).collect()]
                release_persisted()
            with tracer.span("maintain.append"):
                append_minhash_index(batch, index)
        with tracer.span("maintain.append"):
            append_minhash_index(batches[-1], index)  # a replayed ingest
        with tracer.span("maintain.compact"):
            report = maintain_index_tier(spark, index, compacted, tier="minhash", max_dup_mils=10)
            report = [(r.tier_table, r.reclaimed_rows) for r in report.collect()]
        return {"pairs": pairs, "report": report, "index": index, "compacted": compacted}

    def op(self, spark: SparkSession, out: str) -> dict:
        return self._lifecycle(spark, out, self.batches, None)

    def traced_op(self, spark: SparkSession, out: str, tracer: Tracer) -> dict:
        with tracer.span("dedup.shingle"):
            noop(shingle_rows(self.base))
        with tracer.span("dedup.signature"):
            noop(minhash_signatures(self.base))
        return self._lifecycle(spark, out, self.batches, tracer)

    def layer_counts(self, spark: SparkSession) -> dict[str, int]:
        return {"dedup.shingles": shingle_rows(self.base).count()}

    def _full_pairs(self) -> list[tuple[int, int, float]]:
        """``minhash_lsh_pairs`` over base and batches, computed once per
        seed and kept beside the inputs."""
        if not os.path.exists(self.full_pairs_file):
            rows = [list(r) for r in minhash_lsh_pairs(self.docs).collect()]
            release_persisted()
            with open(self.full_pairs_file + ".tmp", "w") as f:
                json.dump(rows, f)
            os.replace(self.full_pairs_file + ".tmp", self.full_pairs_file)
        with open(self.full_pairs_file) as f:
            return [tuple(r) for r in json.load(f)]

    def check(self, result: dict) -> list[str]:
        replayed = {"signatures": self.batch_docs, "banded": self.batch_docs * BANDS}
        return check_maintain(
            result["pairs"], self._full_pairs(), self.first_batch_id, result["report"], replayed
        )

    def stored_bytes(self, result: dict) -> int:
        return dir_bytes(result["compacted"])

    def layer_metrics(self, tracer: Tracer, activity: SparkActivity, result: dict) -> dict:
        m = _self_times(
            tracer,
            [("dedup.shingle", "dedup.shingle_s"), ("dedup.signature", "dedup.signature_self_s")],
        )
        # only the last traced lifecycle: earlier ones share span names
        spans = [s for s in tracer.spans if s.name.startswith("maintain.")]
        last_build = max(i for i, s in enumerate(spans) if s.name == "maintain.build")
        for phase in self.phases:
            totals = {"s": 0.0, "jobs": 0, "tasks": 0, "driver_gap_s": 0.0}
            for s in spans[last_build:]:
                if s.name == f"maintain.{phase}":
                    a = activity.within(s)
                    totals["s"] += s.seconds
                    for k in ("jobs", "tasks", "driver_gap_s"):
                        totals[k] += a[k]
            m.update({f"maintain.{phase}_{k}": v for k, v in totals.items()})
        build = spans[last_build]
        m["maintain.build_overlap"] = activity.within(build)["job_seconds"] / build.seconds
        m["maintain.ingest_bytes_per_input_byte"] = dir_bytes(result["index"]) / self.input_bytes
        return m


WORKLOADS = {w.name: w for w in (IndexBuild, NearDup, IndexMaintain)}

