"""Event-time streaming operators (task-brief Structured Streaming axis).

The reference is batch-only; its resumability contract is covered by
streaming/incremental.py. This module adds the two genuinely streaming
capabilities a telemetry/training-data deployment of the engine needs:

  * windowed_district_counts — the flagship PIP assignment applied to an
    unbounded point stream: broadcast cover join (the polygon side is a
    batch dim, the stream side stays map-only — the same plan shape as
    the batch flagship) followed by event-time tumbling-window counts
    per district with a watermark bounding state and dropping late rows;
  * streaming_dedupe_first_seen — exactly-once id dedup across
    micro-batches via applyInPandasWithState: per-key GroupState
    remembers first-seen, duplicates are suppressed for the lifetime of
    the state (processing-time timeout bounds it) — the streaming form
    of operators/dedupe.exact_dedup for ingest pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.cover_join import assign_points_to_polygons


def windowed_district_counts(
    stream: DataFrame,
    subdivisions: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    time_col: str = "event_time",
) -> DataFrame:
    """stream(point_id?, lon, lat, event_time) × subdivisions(name,
    geometry MultiPolygon) → (window, district, n) with late rows beyond
    the watermark dropped and window state bounded.

    The PIP tier is the broadcast cover join — valid on a stream because
    the polygon side is a bounded dim and the stream side never shuffles
    before the windowed aggregation."""
    assigned = assign_points_to_polygons(
        stream,
        subdivisions.select(F.col("name").alias("district"), "geometry"),
        poly_id="district",
        multipolygon=True,
        broadcast=True,
        keep_unassigned=False,  # per-district counts: uncontained points count nowhere
    )
    return (
        assigned.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("window"), "district")
        .agg(F.count("*").alias("n"))
    )


# output carries only facts the operator can actually observe: the state
# API exposes no micro-batch id, and accumulating later-batch duplicate
# counts in state would be dead weight — exactly-once emission means they
# could never be re-emitted. n_duplicates_dropped therefore counts
# duplicates WITHIN the first-seen micro-batch only.
def _dedup_output_schema(key_type: T.DataType) -> T.StructType:
    # key typed from the stream's own column — a long/int key funneled
    # into a hardcoded string field fails Arrow conversion at runtime
    return T.StructType(
        [
            T.StructField("key", key_type),
            T.StructField("n_duplicates_dropped", T.LongType()),
        ]
    )


_DEDUP_STATE = T.StructType([T.StructField("seen", T.BooleanType())])


def streaming_dedupe_first_seen(
    stream: DataFrame,
    key_col: str = "key",
    *,
    ttl_ms: int | None = None,
):
    """Exactly-once key emission across micro-batches: the FIRST occurrence
    of each key yields one output row (with the count of duplicates seen in
    that same micro-batch); later occurrences across any batch are
    suppressed via per-key GroupState.

    ttl_ms=None (default) uses NoTimeout — state lives for the stream's
    lifetime, which is also what makes the operator usable under
    Trigger.AvailableNow (a ProcessingTimeTimeout forces the runtime to
    keep scheduling timeout-handling batches, so AvailableNow never
    terminates — measured, 180+ empty batches). For continuous
    deployments pass a ttl to bound state like a dedup watermark.
    """
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )

    def fn(key, pdfs, state: GroupState):
        n_new = sum(len(p) for p in pdfs)
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        import pandas as pd

        yield pd.DataFrame(
            {"key": [key[0]], "n_duplicates_dropped": [n_new - 1]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=_dedup_output_schema(stream.schema[key_col].dataType),
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=timeout,
    )
