"""Streaming curation stages — the incremental half of the batch
curation funnel (plans/dedup_curation ``curation_e2e_pipeline``), composed
from the streaming layer's own primitives so the two deeply-verified
halves of the engine are proven TOGETHER (r11 VERDICT task #1).

The shape: a document firehose arrives through the registered file
replay backend (``create_consumer`` — the same envelope/offset
machinery every S-row uses), each micro-batch runs the JVM-side
map stages (payload JSON decode → PII inject/redact chain, supplied by
the caller so the plans layer stays the single source of the chain),
and the stateful stage — incremental exact dedup, first-writer-wins on
the redacted-text key — claims keys per batch against the accumulated
flags state. Per-doc flags are sunk append-only, one overwrite-by-path
partition per micro-batch, under the ``sink.idempotent_foreach_batch``
ledger, so checkpoint replay after a crash rewrites identical bytes.

Ordering contract: the claim stage is first-seen-wins, which equals the
batch funnel's min-``doc_id``-per-key exactly when the replay delivers
in sequence order — the file backend's contract (a ``.ss``/segment log
IS seq-ordered; Kafka gives the same guarantee per shard). The fixture
writer below spaces segment mtimes so Spark's file source (ordered by
modification time, ``latestFirst=false``) replays them in sequence.

Scale notes: the per-batch history probe is an equi-join on the dedup
key against the column-pruned flags state (key column only) — the
standard incremental-upsert shape; at 100 TB you bucket the state table
on the key so the probe co-locates, and put the
``operators/bloom.streaming_bloom_dedup_sink`` filter in front so most
rows never reach the join. Zero driver-side row loops; the only driver
work is micro-batch orchestration.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import ENVELOPE_COLUMNS

#: envelope payload schema for the documents firehose (P6 decode)
DOC_PAYLOAD_SCHEMA = "doc_id long, source string, text string"


def write_documents_envelope(
    docs: DataFrame, src_dir: str, n_segments: int = 6, num_shards: int = 4
) -> int:
    """Materialize a documents table as an ordered envelope log: payload
    = JSON of (doc_id, source, text), sequence = doc_id, shard_id =
    doc_id % num_shards, one parquet segment file per contiguous
    ``doc_id`` range, mtimes spaced 10 s apart so the file streaming
    source replays segments in sequence order. Returns segments written.

    Segments may be written in two phases (a prefix now, the rest
    later) — the file source discovers late segments like ``tail -f``,
    which is how the checkpoint-resume test stages its restart."""
    import shutil
    import tempfile

    os.makedirs(src_dir, exist_ok=True)
    env = docs.select(
        F.lit("documents").alias("stream_key"),
        (F.col("doc_id") % num_shards).cast("long").alias("shard_id"),
        F.col("doc_id").cast("long").alias("sequence"),
        F.timestamp_millis(
            F.lit(1_700_000_000_000) + F.col("doc_id")
        ).alias("timestamp"),
        F.to_json(F.struct("doc_id", "source", "text"))
        .cast("binary")
        .alias("payload"),
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo + 1 + n_segments - 1) // n_segments
    written = 0
    base_mtime = time.time() - 86_400  # well in the past; spacing decides
    for c in range(n_segments):
        seg_path = os.path.join(src_dir, f"segment-{c:04d}.parquet")
        if os.path.exists(seg_path):
            written += 1
            continue
        part = env.filter(
            (F.col("sequence") >= lo + c * span)
            & (F.col("sequence") < lo + (c + 1) * span)
        ).orderBy("sequence")
        with tempfile.TemporaryDirectory(prefix="seg_stage_") as td:
            part.coalesce(1).write.mode("overwrite").parquet(td + "/out")
            (src,) = [
                f
                for f in os.listdir(td + "/out")
                if f.endswith(".parquet")
            ]
            shutil.move(os.path.join(td, "out", src), seg_path + ".tmp")
        os.replace(seg_path + ".tmp", seg_path)
        os.utime(seg_path, (base_mtime + 10 * c, base_mtime + 10 * c))
        written += 1
    return written


def decode_documents(envelope: DataFrame) -> DataFrame:
    """P6: envelope → (doc_id, source, text) via ``from_json`` — JVM-side,
    no Python in the decode path."""
    return envelope.select(
        F.from_json(F.col("payload").cast("string"), DOC_PAYLOAD_SCHEMA).alias(
            "d"
        )
    ).select("d.doc_id", "d.source", "d.text")


def incremental_exact_dedup_sink(
    flags_dir: str,
    key_col: str = "dedup_key",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = ("source", "had_pii"),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: claim dedup keys first-writer-wins and sink
    per-doc flags, one overwrite-by-path partition per micro-batch.

    Per batch B over rows (id, key, carry...):
      1. within-batch claim: ``keep = id == min(id) over (partition by
         key)`` — one keyed window, deterministic;
      2. history probe: equi-join the batch's keys against the DISTINCT
         keys of partitions ``batch_id < B`` (column-pruned, partition-
         pruned read of the flags state itself — no separate state
         store to drift from the output);
      3. write (id, carry..., key, keep) to ``flags_dir/batch_id=B`` —
         overwrite-by-path, so a checkpoint-replayed batch rewrites
         identical bytes (wrap with ``sink.idempotent_foreach_batch``
         to skip the rewrite entirely).

    First-seen-wins == the batch funnel's global min-id-per-key under
    the module's seq-ordered replay contract (module docstring)."""
    from pyspark.sql.window import Window

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        claimed = batch.withColumn(
            "__claim",
            F.col(id_col) == F.min(id_col).over(Window.partitionBy(key_col)),
        )
        prev = [
            d
            for d in (
                os.listdir(flags_dir) if os.path.isdir(flags_dir) else []
            )
            if d.startswith("batch_id=")
            and int(d.split("=", 1)[1]) < batch_id
        ]
        if prev:
            seen = (
                spark.read.option("basePath", flags_dir)
                .parquet(*[os.path.join(flags_dir, d) for d in prev])
                .select(key_col)
                .distinct()
                .withColumn("__seen", F.lit(True))
            )
            claimed = claimed.join(seen, key_col, "left").withColumn(
                "__claim", F.col("__claim") & F.col("__seen").isNull()
            )
        out = claimed.select(
            id_col, *carry_cols, key_col, F.col("__claim").alias("keep")
        )
        out.write.mode("overwrite").parquet(
            os.path.join(flags_dir, f"batch_id={batch_id}")
        )

    return write


def run_curation_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    key_col: str = "dedup_key",
    carry_cols: tuple[str, ...] = ("source", "had_pii"),
    max_files_per_trigger: int = 1,
) -> str:
    """Drive the envelope log at ``src_dir`` through decode → ``transform``
    (the caller's map stages; must add ``key_col`` + ``carry_cols``) →
    the incremental dedup sink, with an ``availableNow`` bounded run and
    a checkpoint under ``work_dir``. Returns the flags directory.

    Re-running with the same ``work_dir`` resumes from the checkpoint:
    already-committed segments are not re-read (D2 Resumable), newly
    arrived segments stream in — the restart/resume path the
    checkpoint-resume test exercises."""
    from .consumer import ConsumerMode, ConsumerOptions, create_consumer
    from .sink import idempotent_foreach_batch

    flags_dir = os.path.join(work_dir, "flags")
    ckpt = os.path.join(work_dir, "ckpt")
    ledger = os.path.join(work_dir, "ledger")
    os.makedirs(flags_dir, exist_ok=True)
    consumer = create_consumer(
        spark,
        f"file://{src_dir}/documents",
        ConsumerOptions(
            mode=ConsumerMode.Resumable,
            checkpoint_dir=ckpt,
            max_offsets_per_trigger=max_files_per_trigger,
        ),
    )
    staged = transform(decode_documents(consumer.dataframe()))
    sink = idempotent_foreach_batch(
        incremental_exact_dedup_sink(
            flags_dir, key_col=key_col, carry_cols=carry_cols
        ),
        ledger,
    )
    q = (
        staged.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return flags_dir


def read_flags(spark: SparkSession, flags_dir: str) -> DataFrame:
    """The accumulated per-doc flag state (all batch partitions)."""
    return spark.read.option("basePath", flags_dir).parquet(flags_dir)


__all__ = [
    "DOC_PAYLOAD_SCHEMA",
    "decode_documents",
    "incremental_exact_dedup_sink",
    "read_flags",
    "run_curation_stream",
    "write_documents_envelope",
    "ENVELOPE_COLUMNS",
]
