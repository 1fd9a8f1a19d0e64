"""The benchmark's workloads: inputs made from a seed, one operation,
and the checks each operation's outputs must pass.

Every workload is a closed loop from one client: the next operation
starts when the previous one has ended. Operations call the jobs'
public ``run()`` entry points exactly as their CLIs do; nothing in the
program is modified.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from intent_classifier_service_spark import datagen
from intent_classifier_service_spark.operators import (
    dedup, drift, packing, schema_check)
from intent_classifier_service_spark.plans import fused, rules
from intent_classifier_service_spark.sources import iceberg, tables
from intent_classifier_service_spark.streaming import checkpoint, validate_stream
from jobs import prepare_corpus as prepare_job
from jobs import validate as validate_job

HERE = os.path.dirname(os.path.abspath(__file__))


def load_expected(path: str | None = None) -> dict:
    """Pinned counts: {workload: {"seed", "docs", "counts"}}."""
    with open(path or os.path.join(HERE, "expected.json"),
              encoding="utf-8") as f:
        return json.load(f)


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, want {want!r}"]


class Workload:
    """One workload. ``setup`` makes the inputs (untimed); ``run_op``
    is the timed operation; ``check`` returns its counts and the list
    of mismatches in its outputs (empty when correct)."""

    name = ""
    default_docs = 0
    warmup_ops = 0
    timed_ops = 2  # at least this many, however short --seconds is
    # (owner, attribute, span name, count files written by the call)
    spans: tuple = ()

    def __init__(self, spark, work: str, seed: int, docs: int | None,
                 expected: dict | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs = docs or self.default_docs
        # counts are pinned for one (seed, size); other runs check
        # invariants and that every operation repeats the first's counts
        pin = (expected or {}).get(self.name)
        self.expected = (pin["counts"] if pin and pin["seed"] == seed
                         and pin["docs"] == self.docs else None)
        self.first: dict | None = None  # first operation's counts
        self.current = 0  # index of the operation in progress

    def op_dir(self, i: int) -> str:
        return os.path.join(self.work, "ops", f"op{i}")

    def watch_dirs(self) -> list[str]:
        """Directories whose new files a traced span counts."""
        return [self.op_dir(self.current)]

    def index_dirs(self) -> list[str]:
        """Persisted-index directories, whose growth per operation is
        the ``index.files`` metric (none outside ingest_drain)."""
        return []

    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i``'s input."""

    def cleanup_op(self, i: int) -> None:
        """Delete the operation's outputs and flush the page cache's
        dirty pages, so that writeback of one operation's thousands of
        small files does not land inside the next one's timing."""
        shutil.rmtree(self.op_dir(i), ignore_errors=True)
        os.sync()

    def check(self, i: int, result: dict) -> tuple[dict, list[str]]:
        """(the operation's counts, the mismatches found in them)."""
        counts = self.counts(i, result)
        bad = self.invariants(result, counts)
        if self.expected is not None:
            bad += _diff("pinned counts", counts, self.expected)
        if self.first is None:
            self.first = counts
        else:
            bad += _diff("counts vs first operation", counts, self.first)
        return counts, bad


class ValidateGate(Workload):
    """What the validate CLI does on a stored table: per-file schema
    gate, snapshot manifest, pinned read, then ``validate.run`` with a
    checkpoint store, against a drift baseline frozen by the first
    warm-up operation."""

    name = "validate_gate"
    default_docs = 50_000
    warmup_ops = 1
    spans = (
        (schema_check, "assert_schema_per_file",
         "operators.schema_check.assert_schema_per_file", False),
        (iceberg, "write_snapshot_manifest",
         "sources.iceberg.write_snapshot_manifest", False),
        (tables, "read_documents_spans",
         "sources.tables.read_documents_spans", False),
        (validate_job, "run", "jobs.validate.run", True),
        (fused, "fused_verdicts_and_drift",
         "plans.fused.fused_verdicts_and_drift", False),
        (tables, "write_violations", "sources.tables.write_violations", True),
        (checkpoint.CheckpointStore, "write_doc_counts",
         "streaming.checkpoint.write_doc_counts", True),
        (checkpoint.CheckpointStore, "write_profiles",
         "streaming.checkpoint.write_profiles", True),
        (checkpoint.CheckpointStore, "append_rule_stats",
         "streaming.checkpoint.append_rule_stats", True),
        (checkpoint.CheckpointStore, "mark_done_bulk",
         "streaming.checkpoint.mark_done_bulk", True),
        (drift, "verdicts_from_profiles",
         "operators.drift.verdicts_from_profiles", False),
        (drift, "text_verdicts_from_profiles",
         "operators.drift.text_verdicts_from_profiles", False),
        (rules, "gate", "plans.rules.gate", False),
    )

    def setup(self) -> None:
        self.table = os.path.join(self.work, "documents_spans")
        self.baseline = os.path.join(self.work, "drift_baseline")
        # the seed shifts the generator's row range, which moves every
        # injected violation (they are periodic in the row number)
        shift = (self.seed * 7919) % 100_003
        (datagen.documents_spans(self.spark, self.docs + shift)
         .offset(shift).repartition(8)
         .write.parquet(self.table))
        self.refs = datagen.valid_media_refs(self.spark)
        # the first (warm-up) operation finds no baseline and freezes
        # one from the input, as the CLI's first run does

    def run_op(self, i: int) -> dict:
        schema_check.assert_schema_per_file(
            self.table, tables.DOCUMENTS_SPANS_SCHEMA)
        sid = iceberg.write_snapshot_manifest(self.table)
        docs = tables.read_documents_spans(self.spark, self.table,
                                           snapshot_id=sid)
        store = checkpoint.CheckpointStore(
            self.spark, os.path.join(self.op_dir(i), "checkpoint"))
        return validate_job.run(
            self.spark, docs, self.refs, os.path.join(self.op_dir(i), "out"),
            store, False, rules.RuleSet(), baseline=self.baseline,
            snapshot_id=sid)

    def counts(self, i: int, result: dict) -> dict:
        out = os.path.join(self.op_dir(i), "out")
        verdicts = self.spark.read.parquet(os.path.join(out, "verdicts"))
        rows = (self.spark.read.parquet(os.path.join(out, "violations"))
                .groupBy("rule_id").count().collect())
        return {
            "n_docs": result["n_docs"],
            "gate_pass": result["gate_pass"],
            # per-rule verdict counts, and violation rows per rule (the
            # global uniqueness rule has rows but no verdict)
            "n_violations": {r["rule_id"]: r["n_violations"]
                             for r in verdicts.collect()},
            "violation_rows": {r["rule_id"]: r["count"] for r in rows},
        }

    def invariants(self, result: dict, counts: dict) -> list[str]:
        bad = _diff("gate_pass", result["gate_pass"], True)
        bad += _diff("n_docs", result["n_docs"], self.docs)
        # the generator always plants duplicate ids (the hot id among them)
        if not counts["violation_rows"].get("R-DOC-UNIQUE"):
            bad.append("R-DOC-UNIQUE: no duplicate ids found")
        return bad


def words_text(src):
    """30-80 words from a 1,000-word pool, a function of ``src`` only."""
    n_words = F.pmod(F.xxhash64(src, F.lit(0)), F.lit(51)) + 30
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(src, i),
                                              F.lit(1000)).cast("string")))
    return F.array_join(words, " ")


def prep_corpus(spark, n_docs: int, start: int):
    """Synthetic text corpus of doc ids [start, start + n_docs): 30-80
    words from a 1,000-word pool, ~2% exact copies (id % 50 == 1 copies
    id - 1), ~1% near copies (id % 97 == 3 copies id - 1 plus one word)
    and 4 languages skewed 50/30/10/10."""
    src = (F.when(F.col("doc_id") % 50 == 1, F.col("doc_id") - 1)
           .when(F.col("doc_id") % 97 == 3, F.col("doc_id") - 1)
           .otherwise(F.col("doc_id")))
    base = (spark.range(start, start + n_docs)
            .select(F.col("id").alias("doc_id")).withColumn("src", src))
    text = (F.when(F.col("doc_id") % 97 == 3,
                   F.concat(words_text(F.col("src")), F.lit(" extradupword")))
            .otherwise(words_text(F.col("src"))))
    lang_idx = F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(10))
    lang = (F.when(lang_idx < 5, F.lit("en")).when(lang_idx < 8, F.lit("de"))
            .when(lang_idx < 9, F.lit("fr")).otherwise(F.lit("zh")))
    return base.select("doc_id", text.alias("text"), lang.alias("lang"))


class PrepareCorpus(Workload):
    """One ``prepare_corpus.run`` with near-dup dedup and ExactSubstr
    window stripping over a stored synthetic text corpus."""

    name = "prepare_corpus"
    default_docs = 20_000
    warmup_ops = 1
    spans = (
        (prepare_job, "run", "jobs.prepare_corpus.run", True),
        (dedup, "duplicate_cut_intervals",
         "operators.dedup.duplicate_cut_intervals", False),
        (dedup, "strip_duplicate_windows",
         "operators.dedup.strip_duplicate_windows", False),
        (dedup, "exact_dedup", "operators.dedup.exact_dedup", False),
        (dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs", False),
        (dedup, "neardup_clusters", "operators.dedup.neardup_clusters", False),
        (dedup, "neardup_dedup", "operators.dedup.neardup_dedup", False),
        (packing, "pack_greedy", "operators.packing.pack_greedy", False),
        (packing, "split_overflow", "operators.packing.split_overflow", False),
    )

    def setup(self) -> None:
        self.table = os.path.join(self.work, "documents")
        prep_corpus(self.spark, self.docs, self.seed * 1_000_003) \
            .repartition(8).write.parquet(self.table)

    def run_op(self, i: int) -> dict:
        return prepare_job.run(
            self.spark, self.spark.read.parquet(self.table), self.op_dir(i),
            max_tokens=2048, neardup=True, strip_windows=True)

    def counts(self, i: int, result: dict) -> dict:
        return {k: result[k] for k in (
            "n_input_docs", "n_exact_dup_dropped", "n_neardup_dropped",
            "n_substring_cut_intervals", "n_sequences", "packed_tokens")}

    def invariants(self, result: dict, counts: dict) -> list[str]:
        bad = _diff("n_input_docs", result["n_input_docs"], self.docs)
        # packing loses no token: overflow docs are chunked and re-packed
        bad += _diff("packed_tokens vs train tokens", result["packed_tokens"],
                     result["split_tokens"].get("train"))
        for k in ("n_exact_dup_dropped", "n_neardup_dropped", "n_sequences"):
            if not counts[k] > 0:
                bad.append(f"{k}: got {counts[k]!r}, want > 0")
        return bad


# ingest batches: position in the file mod 25 -> what the doc copies
COPY_PERIOD = 25
EXACT_STANDING, NEAR_STANDING, EXACT_PREV, NEAR_PREV = 1, 2, 3, 4


def ingest_batch(spark, start: int, n: int, standing: tuple[int, int]):
    """One landed ingest file, doc ids [start, start + n). By position
    ``p`` in the file: p % 25 == 1 is an exact and p % 25 == 2 a near
    copy (one word appended) of a standing doc; p % 25 == 3 and 4 are
    an exact and a near copy of the doc at position p - 3 / p - 4 of
    the previous file (a fresh doc, so appended to the indexes by the
    previous drain), or of a standing doc for the first file. Every
    other doc is fresh. Per file that plants 2/25 exact and 2/25 near
    copies of indexed docs whatever the seed."""
    s0, n_standing = standing
    doc = F.col("doc_id")
    r = F.pmod(doc - start, COPY_PERIOD)
    from_standing = F.pmod(F.xxhash64(doc), F.lit(n_standing)) + s0
    has_prev = start - n >= s0 + n_standing
    src = (F.when(r.isin(EXACT_STANDING, NEAR_STANDING), from_standing)
           .when(r == EXACT_PREV,
                 doc - n - EXACT_PREV if has_prev else from_standing)
           .when(r == NEAR_PREV,
                 doc - n - NEAR_PREV if has_prev else from_standing)
           .otherwise(doc))
    text = (F.when(r.isin(NEAR_STANDING, NEAR_PREV),
                   F.concat(words_text(src), F.lit(" nearcopyword")))
            .otherwise(words_text(src)))
    return (spark.range(start, start + n).select(F.col("id").alias("doc_id"))
            .select("doc_id", text.alias("text")))


def planted(n: int) -> dict:
    """Exact and near copies of indexed docs in an ``n``-doc file."""
    r = [p % COPY_PERIOD for p in range(n)]
    exact = sum(x in (EXACT_STANDING, EXACT_PREV) for x in r)
    near = sum(x in (NEAR_STANDING, NEAR_PREV) for x in r)
    return {"exact": exact, "near": near, "kept": n - exact - near}


class IngestDrain(Workload):
    """One ``validate_stream.run_ingest_dedup`` AvailableNow drain per
    operation, with the exact index on and survivors appended, against
    standing MinHash and exact indexes that grow with every drain.
    ``docs`` is the size of one landed file; the standing corpus is
    five times that."""

    name = "ingest_drain"
    default_docs = 1_000
    warmup_ops = 1
    timed_ops = 3
    spans = (
        (validate_stream, "run_ingest_dedup",
         "streaming.validate_stream.run_ingest_dedup", True),
        (dedup, "exact_dups_against_index",
         "operators.dedup.exact_dups_against_index", False),
        (dedup, "pairs_against_index",
         "operators.dedup.pairs_against_index", False),
        (dedup, "append_to_minhash_index",
         "operators.dedup.append_to_minhash_index", True),
        (dedup, "append_to_exact_index",
         "operators.dedup.append_to_exact_index", True),
    )

    def _path(self, name: str) -> str:
        return os.path.join(self.work, "ingest", name)

    def setup(self) -> None:
        self.standing = (self.seed * 1_000_003, 5 * self.docs)
        self.index, self.exact_index = self._path("mh"), self._path("exact")
        self.landing, self.out = self._path("landing"), self._path("out")
        s0, n = self.standing
        (self.spark.range(s0, s0 + n)
         .select(F.col("id").alias("doc_id"))
         .select("doc_id", words_text(F.col("doc_id")).alias("text"))
         .repartition(2).write.parquet(self._path("standing")))
        docs = self.spark.read.parquet(self._path("standing"))
        dedup.build_minhash_index(docs, self.index)
        dedup.build_exact_index(docs, self.exact_index)
        os.makedirs(self.landing)
        os.sync()  # the standing indexes' writeback stays out of the drains

    def watch_dirs(self) -> list[str]:
        return [self._path(d) for d in ("mh", "exact", "out", "checkpoint")]

    def index_dirs(self) -> list[str]:
        return [self.index, self.exact_index]

    def batch_range(self, i: int) -> tuple[int, int]:
        start = sum(self.standing) + i * self.docs
        return start, start + self.docs

    def _index_docs(self) -> tuple[int, int]:
        return tuple(dedup._read_mh_manifest(p)["n_docs"]
                     for p in (self.index, self.exact_index))

    def before_op(self, i: int) -> None:
        """Land the operation's file: write it aside, then move it into
        the watched directory in one rename."""
        self.index_before = self._index_docs()
        staging = self._path("staging")
        start, _end = self.batch_range(i)
        (ingest_batch(self.spark, start, self.docs, self.standing)
         .coalesce(1).write.parquet(staging))
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        os.rename(os.path.join(staging, part),
                  os.path.join(self.landing, f"batch-{i:05d}.parquet"))
        shutil.rmtree(staging)

    def run_op(self, i: int) -> dict:
        validate_stream.run_ingest_dedup(
            self.spark, self.landing, self.index, self.out,
            self._path("checkpoint"), exact_index_path=self.exact_index)
        return {}

    def cleanup_op(self, i: int) -> None:
        """Keep the state (indexes, sinks, checkpoint) and do not flush
        it: the disk discards every block it frees, so deleting the
        run's scratch costs ~10 ms per file once written back (~9 s a
        run), and nothing once deleted while still in the page cache.
        A drain writes ~200 files of ~10 MB, so the writeback a run can
        meet is small."""

    def _ids(self, i: int, sink: str, col: str,
             once: bool = True) -> set[int]:
        path = os.path.join(self.out, sink)
        if not os.path.isdir(path):
            return set()  # no drain has written to this sink yet
        start, end = self.batch_range(i)
        rows = (self.spark.read.parquet(path)
                .filter(F.col(col).between(start, end - 1))
                .select(col).collect())
        ids = [r[0] for r in rows]
        if once and len(ids) != len(set(ids)):
            self.dup_rows.append(sink)
        return set(ids)

    def counts(self, i: int, result: dict) -> dict:
        self.dup_rows: list[str] = []
        self.sets = [self._ids(i, "flagged_exact", "id_new"),
                     # one row per near pair: a doc may pair twice
                     self._ids(i, "flagged", "id_new", once=False),
                     self._ids(i, "kept", "doc_id")]
        after = self._index_docs()
        return {
            "exact": len(self.sets[0]),
            "near": len(self.sets[1]),
            "kept": len(self.sets[2]),
            "minhash_index_added": after[0] - self.index_before[0],
            "exact_index_added": after[1] - self.index_before[1],
        }

    def invariants(self, result: dict, counts: dict) -> list[str]:
        want = planted(self.docs)
        bad = []
        for k in ("exact", "near", "kept"):
            bad += _diff(k, counts[k], want[k])
        # every landed doc is in exactly one of the three sinks, once
        start, end = self.batch_range(self.current)
        missing = set(range(start, end)) - set().union(*self.sets)
        bad += _diff("landed docs in no sink", len(missing), 0)
        bad += _diff("docs in two sinks", sum(map(len, self.sets)),
                     self.docs - len(missing))
        bad += _diff("sinks with repeated rows", self.dup_rows, [])
        # survivors, and only they, fold into both indexes
        bad += _diff("minhash_index_added", counts["minhash_index_added"],
                     counts["kept"])
        bad += _diff("exact_index_added", counts["exact_index_added"],
                     counts["kept"])
        return bad


WORKLOADS = {w.name: w for w in (ValidateGate, PrepareCorpus, IngestDrain)}
