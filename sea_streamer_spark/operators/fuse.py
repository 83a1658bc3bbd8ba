"""fuse — timestamp-ordered multi-stream merge (the reference's StreamJoin).

Reference semantics (sea-streamer-fuse/src/lib.rs:9-151): a pre-muxed stream
of N keys is buffered per key and emitted globally in event-time order; ties
are broken by stream-key name (min-ts pop, lib.rs:71-89). ``align(key)``
declares which keys gate emission — a slow aligned stream holds back fast ones
(gate check, lib.rs:91-100), i.e. watermarking by peer progress.

Spark mapping:

- **batch / replay**: a global event-time sort with the key tie-break. The
  merge order is materialized as ``emit_index`` so it can be verified by an
  order-insensitive hash. The global index is computed *distributed*
  (event-time range buckets + per-bucket rank + broadcast offsets — see
  :func:`stream_join_batch`); :func:`stream_join_sharded` remains the
  default because per-shard order is the delivery guarantee the reference
  actually makes — global order is a replay/audit opt-in.
- **streaming**: per-shard state buffers the sources and emits, each
  micro-batch, the prefix every aligned peer has passed
  (:func:`stream_join_stateful`) — align-gating across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..model import validate_envelope

#: Total merge order: event time, then key name (the reference's tie-break),
#: then sequence for a total order within a key.
MERGE_ORDER = ("timestamp", "stream_key", "sequence")


def mux(*streams: DataFrame) -> DataFrame:
    """J2 implicit stream merge: one consumer over N keys sees an interleaved
    stream (types/src/streamer.rs:80-86) — ``unionByName`` of envelopes."""
    out = validate_envelope(streams[0])
    for s in streams[1:]:
        out = out.unionByName(validate_envelope(s))
    return out


def _align_gate(muxed: DataFrame, align: list[str]) -> DataFrame:
    """Apply the align gate (fuse/src/lib.rs:91-100): emission stops at the
    slowest aligned stream's max timestamp. When an aligned stream has NO
    rows at all, the gate is NULL and *nothing* emits — ``check()`` in the
    reference requires every aligned buffer non-empty, and the stateful path
    (gate=None) does the same."""
    n_keys = len(set(align))
    gates = (
        muxed.filter(F.col("stream_key").isin(align))
        .groupBy("stream_key")
        .agg(F.max("timestamp").alias("mx"))
        .agg(F.when(F.count(F.lit(1)) == n_keys, F.min("mx")).alias("gate"))
    )
    return muxed.join(F.broadcast(gates), F.col("timestamp") <= F.col("gate")).drop("gate")


def stream_join(
    muxed: DataFrame, align: list[str] | None = None, scope: str = "sharded"
) -> DataFrame:
    """StreamJoin entry point. ``scope="sharded"`` (default) merges per
    shard — fully parallel, the delivery order the reference actually
    guarantees; ``scope="global"`` opts into the single total order
    (replay/audit use), computed distributed via range buckets +
    per-bucket rank + broadcast offsets — no one-partition window."""
    if scope == "sharded":
        return stream_join_sharded(muxed, align)
    if scope == "global":
        return stream_join_batch(muxed, align)
    raise ValueError(f"scope must be sharded|global, got {scope!r}")


def stream_join_batch(
    muxed: DataFrame,
    align: list[str] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Batch StreamJoin: emit the muxed stream in global event-time order.

    ``align`` restricts emission to messages no later than the slowest aligned
    stream's max timestamp (the batch limit of the gate check,
    fuse/src/lib.rs:91-100): in a bounded replay every aligned stream has
    "progressed" to its final timestamp, so the gate is the min of those
    maxima — and an aligned stream with no rows holds back everything.

    The global total order is computed DISTRIBUTED (r3 task #5 / r4 task
    #2): event-time range buckets + per-bucket rank + broadcast bucket
    offsets — never a one-partition window.

    Plan shape: (1) collect ≤ ``n_buckets``-1 approximate timestamp
    quantiles (one geometry-bounded driver collect, embedded as plan
    literals so every branch sees identical cuts — ``repartitionByRange``
    was rejected because its sampled bounds can differ between the rank
    and count branches of the same query); (2) assign each row its bucket
    JVM-side (count of cuts ≤ ts — equal timestamps always share a bucket,
    so the (ts, key, seq) tie-break never straddles buckets); (3)
    ``row_number`` over a ``_bucket``-partitioned window — one hash
    shuffle, one task per bucket, fully parallel; (4) per-bucket counts
    (map-side partial agg, ≤ ``n_buckets`` rows) → running-sum offsets on
    the tiny frame → broadcast join back; ``emit_index`` = offset + local
    rank. Skewed event times cost one hot bucket, never a serialized sort.
    """
    validate_envelope(muxed)
    if align:
        muxed = _align_gate(muxed, align)
    spark = muxed.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts: list[float] = []
    if probs:
        sampled = muxed.select(
            F.unix_micros(F.col("timestamp")).cast("double").alias("_t_us")
        )
        cuts = sorted(set(sampled.approxQuantile("_t_us", probs, 0.001)))
    t_us = F.unix_micros(F.col("timestamp")).cast("double")
    if cuts:
        bucket = F.aggregate(
            F.array(*[F.lit(c) for c in cuts]),
            F.lit(0),
            lambda acc, c: acc + F.when(t_us >= c, F.lit(1)).otherwise(F.lit(0)),
        )
    else:
        bucket = F.lit(0)
    tagged = muxed.withColumn("_bucket", bucket)
    w_local = Window.partitionBy("_bucket").orderBy(
        *[F.col(c).asc() for c in MERGE_ORDER]
    )
    local = tagged.withColumn("_local_idx", F.row_number().over(w_local))
    counts = tagged.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )  # one-partition window over ≤ n_buckets rows — geometry-bounded
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).drop("_n")
    return (
        local.join(F.broadcast(offsets), "_bucket")
        .withColumn("emit_index", F.col("_offset") + F.col("_local_idx"))
        .drop("_bucket", "_local_idx", "_offset")
    )


def stream_join_sharded(muxed: DataFrame, align: list[str] | None = None) -> DataFrame:
    """Scale-path StreamJoin: merge order maintained *per shard*.

    ``emit_index`` is computed per ``shard_id`` partition — a hash-partitioned
    window, fully parallel. This matches the reference's real delivery
    guarantee (order within a shard; cross-shard order only via timestamps).
    """
    validate_envelope(muxed)
    if align:
        muxed = _align_gate(muxed, align)
    w = Window.partitionBy("shard_id").orderBy(*[F.col(c).asc() for c in MERGE_ORDER])
    return muxed.withColumn("emit_index", F.row_number().over(w))


def stream_join_stateful(
    muxed: DataFrame,
    align: list[str] | None = None,
    max_buffer_rows: int = 1_000_000,
) -> DataFrame:
    """Streaming StreamJoin with *true* align-gating via per-shard state
    (``applyInPandasWithState``) — the stateful-buffering path SURVEY §7
    ranks as hard-part #3.

    Faithful to fuse/src/lib.rs:66-100 per shard: messages buffer in group
    state; the gate is the minimum of the aligned streams' observed max
    event times (a slow peer holds everyone back); each micro-batch emits the
    buffered prefix ``timestamp <= gate`` in merge order (ts, key, seq) with
    a monotone per-shard ``emit_index``. Emission timestamps are therefore
    monotone per shard across micro-batches: wave N+1 only contains rows
    later than wave N's gate.

    Scale: state is keyed by ``shard_id`` — each shard's buffer is bounded
    by arrival skew between aligned streams (as in the reference, where it
    is bounded by peer lag), not by stream length. A global (unsharded)
    total order would serialize; this is the distributed contract the
    reference actually guarantees. ``get_spark`` local sessions keep all
    shards in one state store, like the reference's one buffer per consumer
    (see ``session``); elsewhere they hash into ``spark.sql.shuffle.partitions``
    stores, most of them empty with few shards. The count is fixed in the
    checkpoint at the query's first start.

    ``max_buffer_rows`` guards the unbounded-growth failure mode: an aligned
    peer that never produces would otherwise buffer its shard's entire
    history in state. Exceeding the cap fails the query with a diagnostic
    naming the stalled peers — fail-loud beats silent executor OOM; raise the
    cap (or drop the stalled key from ``align``) to resume.
    """
    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    validate_envelope(muxed)
    out_schema = StructType(
        [
            StructField("stream_key", StringType()),
            StructField("shard_id", LongType()),
            StructField("sequence", LongType()),
            StructField("timestamp", TimestampType()),
            StructField("payload", BinaryType()),
            StructField("emit_index", LongType()),
        ]
    )
    state_schema = StructType([StructField("blob", BinaryType())])
    cols = ["stream_key", "shard_id", "sequence", "timestamp", "payload"]
    aligned = sorted(align) if align else None

    def gate_and_emit(key, pdfs, state: GroupState):
        if state.exists:
            buf, max_ts, n_emitted = pickle.loads(state.get[0])
        else:
            buf, max_ts, n_emitted = pd.DataFrame(columns=cols), {}, 0
        new = pd.concat(list(pdfs), ignore_index=True)
        if len(new):
            buf = pd.concat([buf, new[cols]], ignore_index=True)
            for k, ts in new.groupby("stream_key")["timestamp"].max().items():
                if ts is not pd.NaT and (k not in max_ts or ts > max_ts[k]):
                    max_ts[k] = ts
        if aligned is None:
            gate = buf["timestamp"].max() if len(buf) else None
        elif all(k in max_ts for k in aligned):
            gate = min(max_ts[k] for k in aligned)
        else:  # an aligned peer has not progressed yet -> hold everything
            gate = None
        if len(buf) > max_buffer_rows:
            stalled = (
                sorted(set(aligned) - set(max_ts)) if aligned else []
            )
            raise RuntimeError(
                f"stream_join_stateful: shard {key[0]} buffered {len(buf)} rows "
                f"(max_buffer_rows={max_buffer_rows}); aligned peers never seen: "
                f"{stalled or 'none — emission gate lagging arrivals'}"
            )
        if gate is not None and len(buf):
            ready = buf["timestamp"] <= gate
            emit = (
                buf[ready]
                .sort_values(["timestamp", "stream_key", "sequence"])
                .reset_index(drop=True)
            )
            buf = buf[~ready].reset_index(drop=True)
            if len(emit):
                emit["emit_index"] = range(n_emitted + 1, n_emitted + 1 + len(emit))
                n_emitted += len(emit)
                state.update((pickle.dumps((buf, max_ts, n_emitted)),))
                yield emit
                return
        state.update((pickle.dumps((buf, max_ts, n_emitted)),))
        yield pd.DataFrame(columns=cols + ["emit_index"])

    return muxed.groupBy("shard_id").applyInPandasWithState(
        gate_and_emit, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_join_correlated(
    left: DataFrame,
    right: DataFrame,
    on: str = "shard_id",
    watermark: str = "1 minute",
    lower_seconds: int = 0,
    upper_seconds: int = 60,
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """True stream-stream correlation — the "when correlating, not just
    interleaving" half of the reference's StreamJoin mapping (SURVEY §2.3 J1):
    inner-join two *live* streams on ``on`` plus an event-time range — right
    rows within ``[l.timestamp - lower, l.timestamp + upper]``.

    Spark-native stream-stream join: both sides carry watermarks and the
    range condition bounds the join state, so executors evict buffered rows
    as the watermark advances — state is O(window × rate) per key, not
    O(stream length). At scale, state is hash-partitioned by the join key
    across executors; the watermark delay is the knob trading completeness
    for state size (exactly the reference's peer-lag buffer bound,
    fuse/src/lib.rs:91-100).

    Right columns (except the join key) are emitted as ``<col><suffix>``.

    ``how``: ``"inner"`` or ``"leftOuter"``. Left-outer emits an unmatched
    left row (right columns null) only once the watermark has passed its
    join window — i.e. when a match has become impossible — so null-padded
    rows appear a watermark-delay later than matches, never speculatively.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner|leftOuter, got {how!r}")
    r = right.select(
        [F.col(c).alias(c if c == on else f"{c}{suffix}") for c in right.columns]
    )
    l = left.withWatermark("timestamp", watermark)
    r = r.withWatermark(f"timestamp{suffix}", watermark)
    rts, lts = F.col(f"timestamp{suffix}"), F.col("timestamp")
    cond = (
        (l[on] == r[on])
        & (rts >= lts - F.expr(f"INTERVAL {int(lower_seconds)} SECONDS"))
        & (rts <= lts + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS"))
    )
    return l.join(r, cond, how).drop(r[on])
