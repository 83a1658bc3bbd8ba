"""Streaming ordered-funnel tracking — the batch query
``events_funnel_stages`` (plans/event_analytics.py) as a stateful stream.

Semantics are EXACTLY the batch operator's under its input contract:
per-user events arrive in event-time order across micro-batches (within a
batch the processor sorts by ts) — then "first view", "first click AFTER
that view", "first purchase AFTER that click" are each settled by a single
monotone state transition, so the streaming answer equals the batch
recomputation row-for-row, including across a checkpoint stop/restart
(tests/test_streaming_funnel.py proves both).

State per user = three optional epoch-micro timestamps — constant size,
never stream-length; exactly the state a 100 TB firehose can afford. The
operator emits a row whenever a user's funnel stage CHANGES (stage 1-3;
stage-0 users emit nothing — they have no events of interest yet), so sink
volume scales with funnel progress, not event volume.

Out-of-order caveat (documented contract, matching streaming/anomaly.py):
an event-time-late view could retroactively validate an earlier click in
the batch semantics; a deployment with late data must sort upstream inside
a watermark (``withWatermark + window`` reordering) before this operator.
"""

from __future__ import annotations

OUTPUT_SCHEMA = "user_id long, funnel_stage long, at_ts timestamp"

#: state: micros since epoch for each settled stage (-1 = unset)
STATE_SCHEMA = "t_view long, t_click long, t_purchase long"


def streaming_funnel(events_stream):
    """events_stream: streaming DataFrame with (user_id, event_type, ts).
    Emits (user_id, funnel_stage, at_ts) on every stage advance."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            t_view, t_click, t_purchase = state.get
        else:
            t_view = t_click = t_purchase = -1
        out_rows = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("ts")
            for ty, ts in zip(pdf["event_type"], pdf["ts"]):
                us = int(pd.Timestamp(ts).value // 1000)
                if ty == "view" and t_view < 0:
                    t_view = us
                    out_rows.append((user_id, 1, ts))
                elif ty == "click" and t_click < 0 and 0 <= t_view < us:
                    t_click = us
                    out_rows.append((user_id, 2, ts))
                elif ty == "purchase" and t_purchase < 0 and 0 <= t_click < us:
                    t_purchase = us
                    out_rows.append((user_id, 3, ts))
        state.update((t_view, t_click, t_purchase))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["user_id", "funnel_stage", "at_ts"]
            )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
