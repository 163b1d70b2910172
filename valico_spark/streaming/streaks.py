"""Custom stateful streaming operator: consecutive-failure streaks.

A data-quality monitor that no built-in windowed aggregation expresses:
per key (user, device, source partition ...), detect maximal runs of
CONSECUTIVE invalid records and emit each run when it closes (the next
valid record arrives). "Consecutive" is an order-dependent property —
a count over a window can't see whether the failures were adjacent —
so this is the engine's genuine ``applyInPandasWithState`` use-case:
per-group state = (current streak length, id of the last failing
record), carried across micro-batches.

Scale shape: state is two scalars per key — bounded by |keys|, not by
stream length; the per-batch work is a sorted scan of each group's
Arrow batch in pandas. At 10^12 docs/day the groupBy key must be
bounded (user-space, not doc-space) — which is what a streak monitor
keys on anyway.

Ordering note: streaks are evaluated in (time_col, id_col) order WITHIN
each micro-batch, with state continuing across batches. On a file
source drained with availableNow this equals the global batch order
(the exact-oracle contract the driver checks); on a live feed the
guarantee is per-batch-arrival order, the usual streaming contract for
order-dependent monitors.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from valico_spark.operators.util import drop_zip_importers

_OUT_SCHEMA = ("key bigint, streak_len bigint, "
               "last_invalid_id bigint")
_STATE_SCHEMA = "streak bigint, last_id bigint"


def invalid_streaks(validated: DataFrame, key_col: str,
                    time_col: str, id_col: str,
                    min_len: int = 3,
                    valid_col: str = "valid") -> DataFrame:
    """Emit (key, streak_len, last_invalid_id) for every maximal run of
    >= ``min_len`` consecutive invalid records that CLOSES (a valid
    record for the same key follows it). Runs still open at the tail of
    the data remain in state — they close, and emit, when the next
    valid record arrives; in batch-parity terms the oracle counts only
    runs followed by a valid record.

    ``validated`` is a streaming (or batch) DataFrame already carrying
    a boolean ``valid_col`` — e.g. the output of
    :func:`valico_spark.streaming.validate_stream.with_validation`, so
    the SAME compiled ruleset plan feeds batch audits and this monitor.
    """

    def fn(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        drop_zip_importers()
        streak, last_id = state.get if state.exists else (0, None)
        out_len, out_last = [], []
        # materialize the WHOLE group before sorting: groups larger than
        # arrow maxRecordsPerBatch arrive as multiple chunks in arbitrary
        # cross-chunk order, so sorting each chunk independently would
        # evaluate streaks out of global (time, id) order (ADVICE r4).
        # Memory bound = the group's rows this micro-batch — the operator
        # keys on a bounded space (users/devices), not doc-space, so a
        # single key's per-batch slice is small by construction
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
            pdf = pdf.sort_values([time_col, id_col])
            for ok, rid in zip(pdf[valid_col], pdf[id_col]):
                # NULL valid (unevaluable row) counts as a failure;
                # NULL ids (failed upstream extract) keep the run going
                # with a NULL last_invalid_id rather than crashing
                if pd.notna(ok) and bool(ok):
                    if streak >= min_len:
                        out_len.append(streak)
                        out_last.append(last_id)
                    streak = 0
                else:
                    streak += 1
                    last_id = int(rid) if pd.notna(rid) else None
        state.update((streak, last_id))
        if out_len:
            yield pd.DataFrame({
                "key": [key[0]] * len(out_len),
                "streak_len": out_len,
                "last_invalid_id": out_last,
            })

    cols = validated.select(key_col, time_col, id_col, valid_col)
    return (cols.groupBy(F.col(key_col))
                .applyInPandasWithState(
                    fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
                    GroupStateTimeout.NoTimeout))
