"""Streaming curation e2e (r11 VERDICT task #1): batch/stream
equivalence for the curation funnel's exact-dedup front, plus the
checkpoint-resume and crash-replay contracts.

The registered row ``curation_streaming_e2e`` (llm_ops16) proves
equivalence at the FUNNEL level through the driver's oracle hash; the
tests here pin the stronger doc-level claim (every per-doc flag equal)
on a PLANTED-duplicate corpus — the sf corpora contain zero exact
text duplicates (500/500 distinct redacted keys), so without planting,
the dedup state would never fire on a real collision — and the restart
semantics the registered row can't exercise in one bounded run: the
Structured-Streaming analog of the reference's loopback/resumable
integration tests (file/tests/loopback.rs, resumable.rs).

Planting: replica doc_id = base + 504 (504 ≡ 0 mod 7, so the replica
draws the SAME PII-injection class; the injected values differ by
doc_id but redact to the same placeholder) → redacted replica text ==
redacted base text, an exact-dup pair whose min-id winner is the base.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import sea_streamer_spark.plans.queries  # noqa: F401  (registry import order)
from sea_streamer_spark.sources.tables import load_tables
from sea_streamer_spark.streaming.curation import (
    read_flags,
    run_curation_stream,
    write_documents_envelope,
)

SF_DIR = "/root/testdata/sf0.001"

#: replica id offset — a multiple of 7 (same injection class) larger
#: than the base id range (0..499), so replicas always lose the min.
_REP_OFFSET = 504


def _dirty_docs(spark):
    from sea_streamer_spark.operators.pii import pii_injected_col

    docs = load_tables(spark, SF_DIR, "documents").documents
    return docs.select("doc_id", "source", pii_injected_col().alias("text"))


def _planted_docs(spark):
    """Base dirty corpus + one exact-dup replica per doc (ids 504..1003,
    PII-injected per the REPLICA id, colliding post-redaction)."""
    from sea_streamer_spark.operators.pii import pii_injected_col

    docs = load_tables(spark, SF_DIR, "documents").documents
    reps = docs.select(
        (F.col("doc_id") + _REP_OFFSET).alias("doc_id"), "source", "text"
    )
    return (
        docs.select("doc_id", "source", "text")
        .unionByName(reps)
        .select("doc_id", "source", pii_injected_col().alias("text"))
    )


def _transform(df):
    from sea_streamer_spark.plans.dedup_curation import _stream_transform

    return _stream_transform(df)


def _batch_flags(dirty):
    """The batch pipeline's exact-dedup front: min doc_id per md5 of the
    redacted injected text (llm_ops15 ``curation_e2e_pipeline`` stage
    2), computed directly over the same dirty corpus."""
    from pyspark.sql.window import Window

    from sea_streamer_spark.operators.pii import redact_chain_spark

    r = redact_chain_spark(F.col("text"))
    return dirty.select(
        "doc_id",
        "source",
        (r != F.col("text")).alias("had_pii"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5(r)))
        ).alias("keep"),
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["source"], r["had_pii"], r["keep"])
        for r in df.select("doc_id", "source", "had_pii", "keep").collect()
    )


class TestStreamedFlagsEquivalence:
    def test_streamed_flags_equal_batch_flags_doc_level(self, spark, tmp_path):
        """One bounded streaming run (6 segments → 6 micro-batches) over
        the planted-dup corpus produces EXACTLY the batch front's
        per-doc flags — first-seen-wins == min-doc_id-per-key under the
        seq-ordered replay — and every replica is dropped in favor of
        its base."""
        dirty = _planted_docs(spark)
        src = str(tmp_path / "src")
        write_documents_envelope(dirty, src, n_segments=6)
        flags_dir = run_curation_stream(
            spark, src, str(tmp_path / "work"), _transform
        )
        streamed = read_flags(spark, flags_dir)
        assert _rows(streamed) == _rows(_batch_flags(dirty))
        n_batches = len(
            [d for d in os.listdir(flags_dir) if d.startswith("batch_id=")]
        )
        assert n_batches == 6
        # all 500 replicas lost to their base (min id wins)
        assert (
            streamed.filter(
                (F.col("doc_id") >= _REP_OFFSET) & F.col("keep")
            ).count()
            == 0
        )

    def test_duplicate_keys_claimed_across_batches(self, spark, tmp_path):
        """Cross-batch dedup state is real: base docs land in early
        segments, their replicas in later ones, and exactly one doc per
        key keeps — never one per (key, batch)."""
        src = str(tmp_path / "src")
        write_documents_envelope(_planted_docs(spark), src, n_segments=6)
        flags_dir = run_curation_stream(
            spark, src, str(tmp_path / "work"), _transform
        )
        per_key = (
            read_flags(spark, flags_dir)
            .groupBy("dedup_key")
            .agg(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("batch_id").alias("nb"),
            )
        )
        assert per_key.filter(F.col("kept") != 1).count() == 0
        # the dup pairs genuinely span micro-batches
        assert per_key.filter((F.col("n") > 1) & (F.col("nb") > 1)).count() > 0


class TestCheckpointResume:
    def test_two_phase_resume_equals_one_shot(self, spark, tmp_path):
        """D2 Resumable through the curation path: stream the base-doc
        segments, then the replica segments arrive and a re-run with
        the SAME checkpoint processes only them — replicas must dedup
        against the PHASE-A state, and the final flags equal the
        one-shot run's."""
        dirty = _planted_docs(spark)
        # one-shot reference
        src_all = str(tmp_path / "src_all")
        write_documents_envelope(dirty, src_all, n_segments=6)
        ref_dir = run_curation_stream(
            spark, src_all, str(tmp_path / "work_ref"), _transform
        )
        # phased: ids 0..1003 split on the same 6-segment grid (span
        # 168): segments 0-2 hold every base doc (0..499 < 504), the
        # replicas fill 3-5
        src = str(tmp_path / "src")
        prefix = dirty.filter(F.col("doc_id") < _REP_OFFSET)
        write_documents_envelope(prefix, src, n_segments=3)
        work = str(tmp_path / "work")
        run_curation_stream(spark, src, work, _transform)
        mid = read_flags(spark, os.path.join(work, "flags"))
        assert mid.count() == prefix.count()
        assert mid.filter(~F.col("keep")).count() == 0  # no dups yet
        n_mid = len(
            [
                d
                for d in os.listdir(os.path.join(work, "flags"))
                if d.startswith("batch_id=")
            ]
        )
        # late segments arrive
        write_documents_envelope(dirty, src, n_segments=6)
        flags_dir = run_curation_stream(spark, src, work, _transform)
        n_after = len(
            [d for d in os.listdir(flags_dir) if d.startswith("batch_id=")]
        )
        # resume processed ONLY the new segments
        assert n_after == n_mid + 3
        assert _rows(read_flags(spark, flags_dir)) == _rows(
            read_flags(spark, ref_dir)
        )
        # and every replica deduped against phase-A state
        assert (
            read_flags(spark, flags_dir)
            .filter((F.col("doc_id") >= _REP_OFFSET) & F.col("keep"))
            .count()
            == 0
        )

    def test_rerun_with_no_new_data_is_a_noop(self, spark, tmp_path):
        src = str(tmp_path / "src")
        write_documents_envelope(_dirty_docs(spark), src, n_segments=4)
        work = str(tmp_path / "work")
        run_curation_stream(spark, src, work, _transform)
        before = _rows(read_flags(spark, os.path.join(work, "flags")))
        run_curation_stream(spark, src, work, _transform)
        after = _rows(read_flags(spark, os.path.join(work, "flags")))
        assert before == after

    def test_crash_replayed_batch_is_skipped_by_ledger(self, spark, tmp_path):
        """The idempotent-sink contract: re-delivering an already-marked
        batch id (crash between sink write and checkpoint commit) does
        not duplicate or alter state."""
        from sea_streamer_spark.streaming.curation import (
            incremental_exact_dedup_sink,
        )
        from sea_streamer_spark.streaming.sink import idempotent_foreach_batch

        flags_dir = str(tmp_path / "flags")
        os.makedirs(flags_dir)
        sink = idempotent_foreach_batch(
            incremental_exact_dedup_sink(flags_dir), str(tmp_path / "ledger")
        )
        staged = _transform(_planted_docs(spark))
        b0 = staged.filter(F.col("doc_id") < 200)
        b1 = staged.filter(
            (F.col("doc_id") >= _REP_OFFSET)
            & (F.col("doc_id") < _REP_OFFSET + 200)
        )
        sink(b0, 0)
        sink(b1, 1)  # every b1 key was claimed in b0 → all keep=false
        flags = read_flags(spark, flags_dir)
        assert flags.filter(F.col("batch_id") == 1).count() == 200
        assert (
            flags.filter((F.col("batch_id") == 1) & F.col("keep")).count()
            == 0
        )
        before = _rows(flags)
        sink(b1, 1)  # crash replay of the last batch
        sink(b0, 0)  # and an out-of-order redelivery
        assert _rows(read_flags(spark, flags_dir)) == before

    def test_unmarked_replay_rewrites_identical_bytes(self, spark, tmp_path):
        """Without the ledger marker (crash BEFORE marking), re-running
        the batch body overwrites its own partition with identical
        content — overwrite-by-batch-path idempotence."""
        from sea_streamer_spark.streaming.curation import (
            incremental_exact_dedup_sink,
        )

        flags_dir = str(tmp_path / "flags")
        os.makedirs(flags_dir)
        sink = incremental_exact_dedup_sink(flags_dir)
        staged = _transform(_planted_docs(spark))
        b0 = staged.filter(F.col("doc_id") < 200)
        b1 = staged.filter(
            (F.col("doc_id") >= _REP_OFFSET)
            & (F.col("doc_id") < _REP_OFFSET + 200)
        )
        sink(b0, 0)
        sink(b1, 1)
        before = _rows(read_flags(spark, flags_dir))
        sink(b1, 1)  # no ledger: the body itself must be idempotent
        assert _rows(read_flags(spark, flags_dir)) == before


class TestStreamedFrontRunsPerInvocation:
    def test_streamed_flags_recompute_and_leave_only_the_fixture(self, spark):
        """r12 measurement honesty: the persisted per-machine state is
        ONLY the input fixture (envelope segments); the streaming
        computation runs fresh per invocation into a throwaway work dir
        that is gone by the time the flags are returned — so no computed
        intermediate survives across bench/oracle runs."""
        import glob
        import hashlib
        import tempfile

        from sea_streamer_spark.plans.dedup_curation import _streamed_flags

        tmp = tempfile.gettempdir()
        before = set(glob.glob(os.path.join(tmp, "sea_curation_work_*")))
        rows1 = _rows(_streamed_flags(spark, SF_DIR))
        after = set(glob.glob(os.path.join(tmp, "sea_curation_work_*")))
        assert after == before  # throwaway work dir removed
        tag = hashlib.md5(os.path.abspath(SF_DIR).encode()).hexdigest()[:10]
        root = os.path.join(tmp, f"sea_curation_stream_v1_{tag}")
        assert set(os.listdir(root)) <= {"src", ".done", ".lock"}
        # a second invocation recomputes and agrees (deterministic replay)
        assert _rows(_streamed_flags(spark, SF_DIR)) == rows1
        assert rows1 == _rows(_batch_flags(_dirty_docs(spark)))


class TestRegisteredRow:
    def test_streaming_e2e_row_equals_batch_row(self, spark):
        """The registered streamed funnel returns byte-equal rows to the
        registered batch funnel (the driver proves this against DuckDB;
        here it's pinned Spark-vs-Spark so a driver outage can't lose
        the property)."""
        from sea_streamer_spark.plans.queries import QUERIES

        a = QUERIES["curation_streaming_e2e"].fn(spark, SF_DIR).collect()
        b = QUERIES["curation_e2e_pipeline"].fn(spark, SF_DIR).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_oracle_is_the_batch_oracle_verbatim(self):
        from sea_streamer_spark.plans.queries import QUERIES

        assert (
            QUERIES["curation_streaming_e2e"].oracle
            == QUERIES["curation_e2e_pipeline"].oracle
        )


@pytest.mark.parametrize("n_segments", [1, 3])
def test_segment_count_does_not_change_flags(spark, tmp_path, n_segments):
    """Micro-batch granularity is an execution knob, not a semantic one:
    1 segment (all-at-once) and 3 segments produce identical flags."""
    dirty = _planted_docs(spark)
    src = str(tmp_path / "src")
    write_documents_envelope(dirty, src, n_segments=n_segments)
    flags_dir = run_curation_stream(
        spark, src, str(tmp_path / "work"), _transform
    )
    streamed = read_flags(spark, flags_dir)
    assert _rows(streamed) == _rows(_batch_flags(dirty))
