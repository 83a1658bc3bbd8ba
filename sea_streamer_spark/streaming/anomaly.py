"""Streaming trailing z-score anomaly detection on Spark 4's
``transformWithStateInPandas`` (the successor stateful API to
``applyInPandasWithState``: typed state variables, timers, RocksDB-backed).

Semantics are EXACTLY the batch query ``events_anomaly_zscore``
(plans/event_streams.py): each (event_type, hour) count is scored against the
mean/stddev of the previous ``TRAIL`` fully-observed hours — same integer
sums, same float expression order, same HALF_UP micro rounding — so the
streaming operator is verifiable row-for-row against the oracle-checked
batch implementation (tests/test_streaming_anomaly.py does, including
across a stop/restart checkpoint boundary).

State per key = the last ``TRAIL`` hourly counts (24 longs) — bounded by
the window geometry, never by stream length; exactly the state a 100 TB
firehose deployment can afford. Input contract: hourly counts arrive in
event-time order per key across micro-batches (the upstream windowed
aggregation emits them that way); within a batch the processor sorts.
"""

from __future__ import annotations

TRAIL = 24  # single source of truth — plans.event_streams imports this as _Z_TRAIL

OUTPUT_SCHEMA = (
    "event_type string, window_start timestamp, c long, z_micro long"
)


def z_micro(c: int, hist: list[int]) -> int:
    """The batch op's fixed-point score, float-op order preserved:
    ``round(1e6 * (c - s1/n) / sqrt((s2 - s1*s1/n)/n + 1.0))`` with
    Spark's ROUND (HALF_UP on the shortest-decimal rendering)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    n = len(hist)
    s1 = sum(hist)
    s2 = sum(v * v for v in hist)
    z = (float(c) - float(s1) / n) / math.sqrt(
        (float(s2) - float(s1) * s1 / n) / n + 1.0
    )
    return int(
        Decimal(repr(z * 1_000_000)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


def make_processor():
    """Factory (kept in a closure so the class pickles by value — usable
    from bare sessions without addPyFile, the manifest.py convention)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    trail = TRAIL
    score = z_micro

    class TrailingZScore(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getValueState(
                "buf",
                StructType([StructField("counts", ArrayType(LongType()))]),
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            counts = list(self._buf.get()[0]) if self._buf.exists() else []
            out: list[tuple] = []
            # a key's micro-batch may span several Arrow chunks in
            # shuffle-arbitrary order — concat THEN sort, or the trailing
            # buffer builds out of event-time order on large batches
            chunks = [pdf for pdf in rows if len(pdf)]
            batch = (
                pd.concat(chunks).sort_values("window_start")
                if chunks
                else pd.DataFrame(columns=["window_start", "c"])
            )
            for _, r in batch.iterrows():
                c = int(r["c"])
                if len(counts) >= trail:
                    out.append(
                        (key[0], r["window_start"], c, score(c, counts[-trail:]))
                    )
                counts.append(c)
            self._buf.update((counts[-trail:],))  # geometry-bounded state
            if out:
                yield pd.DataFrame(
                    out, columns=["event_type", "window_start", "c", "z_micro"]
                )

        def close(self) -> None:
            pass

    return TrailingZScore()


def transform_with_state_available() -> bool:
    """transformWithStateInPandas speaks protobuf to its JVM state server;
    the container lacks ``google.protobuf`` (and installs are off), so the
    modern-API path is capability-gated — the applyInPandasWithState
    fallback below carries the identical semantics in-container."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_zscore(hourly_stream):
    """Wire the processor onto a streaming (event_type, window_start, c)
    frame via the modern API. Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) AND protobuf
    (:func:`transform_with_state_available`); use
    :func:`streaming_zscore_legacy` where either is unavailable."""
    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; use "
            "streaming_zscore_legacy (applyInPandasWithState) instead"
        )
    return hourly_stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=make_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )


def streaming_zscore_legacy(hourly_stream):
    """The same operator on ``applyInPandasWithState`` (works on the
    default state store, no protobuf): state = the last TRAIL counts per
    key, scoring identical to :func:`z_micro` — row-for-row equal to the
    batch query, proven across a checkpoint restart in
    tests/test_streaming_anomaly.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    trail = TRAIL

    # by-value copy of z_micro (same float-op order): capturing the
    # module-level function would pickle it BY REFERENCE and require the
    # package importable on executors — a bare driver session without
    # addPyFile could not run the query (the distinct.py/decode_media
    # convention; equality with z_micro is pinned in the tests)
    def score(c: int, hist: list[int]) -> int:
        import math
        from decimal import ROUND_HALF_UP, Decimal

        n = len(hist)
        s1 = sum(hist)
        s2 = sum(v * v for v in hist)
        z = (float(c) - float(s1) / n) / math.sqrt(
            (float(s2) - float(s1) * s1 / n) / n + 1.0
        )
        return int(
            Decimal(repr(z * 1e6)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    def fn(key, pdfs, state):
        import pandas as pd

        counts = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (
            pd.concat(chunks).sort_values("window_start")
            if chunks
            else pd.DataFrame(columns=["window_start", "c"])
        )
        for _, r in batch.iterrows():
            c = int(r["c"])
            if len(counts) >= trail:
                out.append(
                    (key[0], r["window_start"], c, score(c, counts[-trail:]))
                )
            counts.append(c)
        state.update((counts[-trail:],))
        if out:
            yield pd.DataFrame(
                out, columns=["event_type", "window_start", "c", "z_micro"]
            )

    return hourly_stream.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType="counts array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
