"""The closed-loop workloads: one client, and the next iteration starts
when the previous one has ended.

Each workload prepares its inputs and oracle answers, warms up, then runs
timed iterations. ``check`` compares an iteration's outputs with the oracle
outside the timed region and returns the keys of the turns that failed.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil

from pyspark.sql import functions as F

from pdf_parser_spark.operators.manifest import bucket_expr, read_output, run_with_manifest
from pdf_parser_spark.operators.reassemble import reassemble_conversations
from pdf_parser_spark.operators.spans import boilerplate_spans
from perfbench.corpus import Corpus, layout_of, md5
from perfbench.stats import failures

N_BUCKETS = 16
UNTIMED_GROUP = "perfbench-untimed"


class Workload:
    name = ""
    sf = 0.0
    html_only = False
    # The first iteration starts the Python workers and loads the JVM's
    # classes; five more let the JIT compile the hot paths, after which an
    # iteration is within a few percent of the next.
    warmups = 6

    def __init__(self, work_dir: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work_dir, seed, cores
        self.spark = None  # set once the session has started
        self.tracer = None  # set for the traced iterations only
        self.iteration = 0
        self.setup_attempted = 0  # turns checked during set-up
        self.setup_failed: set = set()
        # turns per tool fed to the Python layer of each call, for the trace
        self.call_tools: dict = {}

    def make_inputs(self) -> None:
        """Generate the input table and its oracle answers (no Spark)."""
        self.corpus = Corpus(self.seed, self.sf, os.path.join(self.work, "input"),
                             html_only=self.html_only, processes=self.cores)

    def prepare(self) -> None:
        """Set-up that needs the session."""

    @property
    def turns(self) -> int:
        return self.corpus.n_turns

    def all_keys(self) -> set:
        return set(self.corpus.layouts)

    def call(self, name: str, fn):
        """Run one call into the program; traced, it is a span whose Spark
        jobs carry a job group named after it."""
        if self.tracer is None:
            return fn()
        sc = self.spark.sparkContext
        group = f"{self.tracer.run_id}/{self.iteration}/{name}"
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, group=group):
                return fn()
        finally:
            sc.setJobGroup(UNTIMED_GROUP, "")

    def before(self, k: int) -> None:
        """Untimed preparation of iteration ``k``."""

    def run(self, k: int):
        """The timed region of iteration ``k``; returns what ``check`` reads."""
        raise NotImplementedError

    def check(self, state) -> set:
        raise NotImplementedError

    def cleanup(self, state) -> None:
        """Untimed removal of an iteration's outputs."""

    def layout_failures(self, out_dir: str) -> set:
        pdf = read_output(self.spark, out_dir).toPandas()
        return failures(self.corpus.layouts, (
            ((r.conv_id, int(r.turn_idx)), layout_of(r))
            for r in pdf.itertuples(index=False)))


class ExtractJob(Workload):
    """The job users submit: manifest-committed a003 extraction of the
    mixed table into 16 buckets, a fresh output directory each time."""

    name = "extract_job"
    sf = 0.007

    def prepare(self) -> None:
        self.call_tools = {"manifest.run_with_manifest": self.corpus.tool_turns}

    def run(self, k: int):
        out = os.path.join(self.work, f"out-{k}")
        src = self.spark.read.parquet(self.corpus.path)
        res = self.call("manifest.run_with_manifest", lambda: run_with_manifest(
            self.spark, src, out, n_buckets=N_BUCKETS, input_path=self.corpus.path))
        return out, res

    def check(self, state) -> set:
        out, res = state
        if sorted(res["processed"]) != list(range(N_BUCKETS)):
            return self.all_keys()
        return self.layout_failures(out)

    def cleanup(self, state) -> None:
        shutil.rmtree(state[0], ignore_errors=True)


class HtmlDocs(Workload):
    """Resume after a crash that lost 4 of 16 bucket manifests of an
    HTML-only table, then write every conversation as one document and
    every turn's content spans."""

    name = "html_docs"
    sf = 0.004
    html_only = True
    lost = 4
    warmups = 4  # after the full, cold run in prepare()

    def prepare(self) -> None:
        spark, path = self.spark, self.corpus.path
        self.base = os.path.join(self.work, "committed")
        run_with_manifest(spark, spark.read.parquet(path), self.base,
                          n_buckets=N_BUCKETS, input_path=path)
        self.setup_attempted = self.turns
        self.setup_failed = self.layout_failures(self.base)

        by_bucket = spark.read.parquet(path).select(
            "conv_id", bucket_expr(N_BUCKETS).alias("b"))
        conv_bucket = dict(by_bucket.distinct().collect())
        bucket_turns = dict(by_bucket.groupBy("b").count().collect())
        # Always lose the bucket of the largest conversation, never that of
        # the second, and pick the other lost buckets so that the recompute
        # is as close to a quarter of the turns as the buckets allow: every
        # seed then carries the same skew and about the same work.
        mega0, mega1 = (conv_bucket[c] for c, _ in self.corpus.conversations[:2])
        others = [b for b in range(N_BUCKETS) if b not in (mega0, mega1)]
        quarter = self.corpus.n_turns / 4
        rest = min(itertools.combinations(others, self.lost - 1), key=lambda bs: abs(
            bucket_turns.get(mega0, 0) + sum(bucket_turns.get(b, 0) for b in bs) - quarter))
        self.lost_buckets = sorted((mega0, *rest))
        self.call_tools = {
            "manifest.run_with_manifest":
                {"html/v1": sum(bucket_turns.get(b, 0) for b in self.lost_buckets)},
            "spans.boilerplate_spans": {"html/v1": self.turns},
        }

        self.conv_keys: dict = {}
        for conv_id, turn_idx in self.corpus.layouts:
            self.conv_keys.setdefault(conv_id, []).append((conv_id, turn_idx))
        self.docs_md5 = self.doc_hashes(self.docs())
        oracle_md5 = {
            conv_id: md5("\n\n".join(self.corpus.left[k] for k in sorted(keys, key=lambda k: k[1])))
            for conv_id, keys in self.conv_keys.items()}
        self.setup_failed |= self.doc_failures(oracle_md5)

    def docs(self):
        return reassemble_conversations(read_output(self.spark, self.base))

    @staticmethod
    def doc_hashes(docs) -> dict:
        return dict(docs.select("conv_id", F.md5("doc")).collect())

    def doc_failures(self, got: dict) -> set:
        bad = set()
        for conv_id, keys in self.conv_keys.items():
            if got.get(conv_id) != self.docs_md5[conv_id]:
                bad.update(keys)
        return bad

    def span_failures(self, spans) -> set:
        got: dict = {}
        for r in spans.sort_values("span_idx").itertuples(index=False):
            got.setdefault((r.conv_id, int(r.turn_idx)), []).append(
                (int(r.span_idx), int(r.start_offset), int(r.end_offset), r.block_md5))
        # a turn whose content has no blocks legitimately emits no span rows
        pairs = [(key, tuple(got.pop(key, ()))) for key in self.corpus.spans]
        pairs += [(key, tuple(v)) for key, v in got.items()]
        return failures(self.corpus.spans, pairs)

    def before(self, k: int) -> None:
        for b in self.lost_buckets:
            # already gone when the previous iteration raised before recommitting it
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.base, "_manifests", f"bucket-{b:05d}.json"))

    def run(self, k: int):
        spark, path = self.spark, self.corpus.path
        res = self.call("manifest.run_with_manifest", lambda: run_with_manifest(
            spark, spark.read.parquet(path), self.base, n_buckets=N_BUCKETS, input_path=path))
        out = os.path.join(self.work, f"docs-{k}")
        self.call("reassemble.write_docs", lambda: self.docs().write.parquet(
            os.path.join(out, "docs")))
        self.call("spans.boilerplate_spans", lambda: boilerplate_spans(
            spark.read.parquet(path)).write.parquet(os.path.join(out, "spans")))
        return res, out

    def check(self, state) -> set:
        res, out = state
        kept = [b for b in range(N_BUCKETS) if b not in self.lost_buckets]
        if sorted(res["processed"]) != self.lost_buckets or sorted(res["skipped"]) != kept:
            return self.all_keys()
        spark = self.spark
        return (self.layout_failures(self.base)
                | self.doc_failures(self.doc_hashes(spark.read.parquet(os.path.join(out, "docs"))))
                | self.span_failures(spark.read.parquet(os.path.join(out, "spans")).toPandas()))

    def cleanup(self, state) -> None:
        shutil.rmtree(state[1], ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExtractJob, HtmlDocs)}
