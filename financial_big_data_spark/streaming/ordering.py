"""The one per-series ordered-recurrence driver behind the stateful
streaming operators (EWM, MACD, regime labelling, W12 run tracking).

Each operator supplies its output schema, its carry fields and a
``step(rows, carry) -> (out, carry)`` that continues its recurrence over
rows already in event-time order. ``ordered_recurrence`` does the rest,
per series and micro-batch:

1. concatenates the group's Arrow chunks (they arrive in no guaranteed
   order);
2. reads the state and checks its layout tag (``read_state``);
3. admits the new rows against the last EMITTED event time (``on_late``);
4. merges them with the held rows and sorts once, stably, by
   ``[time, *order_tiebreak]``;
5. emits the rows at or below the series' watermark (max event time
   seen − ``delay_seconds``) through ``step`` and holds the rest;
6. packs the state, re-arms the TTL, and on TTL expiry flushes the held
   rows through ``step`` before dropping the state, so an idle series
   loses no input rows.

In-order delivery is the ``delay_seconds=0`` case: the watermark is the
largest event time seen, so every admitted row is emitted in its own
micro-batch and nothing is held. A positive delay absorbs disorder up
to that bound, at the cost of ~rate × delay held rows per series and
that much emission latency; rows inside the final delay of a finite
stream stay held unless the TTL flushes them.

Admission: a row older than the last emitted event time cannot be
folded into a recurrence that has already moved past it.

- ``on_late="error"`` (default): raise, naming the series and both
  timestamps. The violation surfaces as a stream failure, not bad data.
- ``on_late="drop"``: discard rows STRICTLY older than the last emitted
  event time; equal timestamps pass (the stable sort and
  ``order_tiebreak`` make their relative order explicit). An
  at-least-once source that redelivers the last emitted row would
  re-fold it: "drop" discards disorder, not duplicates.
- ``on_late="drop-replayed"``: discard rows at OR before the last
  emitted event time: exactly-once for equal-timestamp redeliveries, at
  the cost of dropping a genuinely new row that shares that timestamp.

TTL caveat: ``state_ttl_ms`` arms a processing-time timeout, and with
one Spark runs a no-data batch after every batch to look for expired
state, so a ``Trigger.AvailableNow`` (or ``once``) query never
terminates. Set a TTL only on continuously triggered queries; the
default is none.

State layout guard: applyInPandasWithState state rows are POSITIONAL,
so a stream restarted from a checkpoint written by a build with another
layout would misbind fields. Every state row leads with ``STATE_VERSION``
and ``read_state`` raises a named error pointing at the remedy (restart
from a fresh checkpoint; there is no in-place state migration). The held
rows are one nullable binary field (an Arrow IPC stream of the input
rows), NULL whenever nothing is held.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Bump whenever the state layout changes. History:
#   (untagged, pre-r9)  — operator fields only
#   (untagged, r9)      — + last_ts for in-order enforcement
#   3 (r10)             — + leading layout-version tag (this guard)
#   4                   — one driver layout: tag, last emitted µs, max
#                         seen µs, held rows (Arrow IPC), operator carry
#   5                   — EWM/MACD carries gain each EWM's pending-NULL
#                         count
STATE_VERSION = 5

Step = Callable[[pd.DataFrame, tuple], tuple[pd.DataFrame | None, tuple]]


def read_state(state, n_fields: int, operator: str) -> tuple:
    """Unpack a GroupState row written by this build: verifies the field
    count and the leading layout-version tag, returning the payload
    (everything after the tag). A checkpoint written by an older/newer
    build fails with a NAMED error instead of positional misbinding."""
    row = tuple(state.get)
    if len(row) != n_fields or row[0] != STATE_VERSION:
        got = f"{len(row)} fields" + (
            f", tag {row[0]!r}" if len(row) == n_fields else ""
        )
        raise ValueError(
            f"{operator}: restored state row has an incompatible layout "
            f"({got}; this build expects {n_fields} fields with layout "
            f"tag {STATE_VERSION}) — the checkpoint was written by a "
            "different build of this operator. There is no in-place "
            "state migration: restart the stream from a fresh checkpoint "
            "and replay the source."
        )
    return row[1:]


def validate_on_late(on_late: str) -> None:
    if on_late not in ("error", "drop", "drop-replayed"):
        raise ValueError("on_late must be 'error', 'drop' or 'drop-replayed'")


def micros(times: pd.Series) -> np.ndarray:
    """Event times as int64 microseconds (Spark timestamps are µs)."""
    return times.to_numpy(dtype="datetime64[us]").view("int64")


def admit(
    pdf: pd.DataFrame,
    ts_us: np.ndarray,
    last_us: int | None,
    on_late: str,
    key,
    operator: str,
    delay_seconds: float,
) -> tuple[pd.DataFrame, np.ndarray]:
    """The admission step: ``pdf``'s rows (and their event times in µs)
    that may still enter the recurrence, given the series' last emitted
    event time ``last_us`` (None for a fresh series)."""
    if last_us is None or not len(ts_us):
        return pdf, ts_us
    if on_late == "drop-replayed":
        keep = ts_us > last_us
    elif ts_us.min() >= last_us:
        return pdf, ts_us
    elif on_late == "error":
        raise ValueError(
            f"{operator}: out-of-order beyond the reorder bound "
            f"(delay_seconds={delay_seconds}) for series {key!r}: event "
            f"time {pd.Timestamp(int(ts_us.min()), unit='us')} is older "
            f"than the last emitted {pd.Timestamp(last_us, unit='us')} — "
            "fix the source ordering, raise delay_seconds to cover its "
            "disorder, or pass on_late='drop' to discard late rows"
        )
    else:
        keep = ts_us >= last_us
    return pdf[keep], ts_us[keep]


def sort_order(pdf: pd.DataFrame, order: list[str]) -> np.ndarray:
    """Row positions that sort ``pdf`` stably by the columns ``order``,
    NaN/NaT last, as ``pdf.sort_values(order, kind="mergesort")`` does, from
    one ``np.lexsort``: datetimes enter as int64, numpy numbers as they are,
    anything else as sorted factor codes, each ranked first by its missing flag."""
    keys = []
    for c in reversed(order):
        col = pdf[c]
        if col.dtype.kind in "mM":
            values = col.array.asi8
            missing = values == np.iinfo(np.int64).min
        elif isinstance(col.dtype, np.dtype) and col.dtype.kind in "biuf":
            values = col.to_numpy()
            missing = np.isnan(values)
        else:
            values = pd.factorize(col, sort=True)[0]
            missing = values < 0
        keys += [values, missing]
    return np.lexsort(keys)


def _pack(held: pd.DataFrame) -> bytes | None:
    if held.empty:
        return None
    table = pa.Table.from_pandas(held, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _unpack(blob) -> pd.DataFrame | None:
    if blob is None:
        return None
    return pa.ipc.open_stream(pa.py_buffer(bytes(blob))).read_pandas()


def ordered_recurrence(
    stream: DataFrame,
    step: Step,
    *,
    out_schema: T.StructType,
    carry_fields: list[T.StructField],
    operator: str,
    series: str,
    time: str,
    order_tiebreak: list[str] | None,
    on_late: str,
    delay_seconds: float,
    state_ttl_ms: int | None,
) -> DataFrame:
    """Run ``step`` per ``series`` over ``stream`` in event-time order
    (see the module docstring). A fresh series' carry is all None."""
    validate_on_late(on_late)
    if delay_seconds < 0:
        raise ValueError("delay_seconds must be >= 0")
    delay_us = int(delay_seconds * 1_000_000)
    order = [time] + (order_tiebreak or [])
    state_schema = T.StructType(
        [
            T.StructField("state_v", T.IntegerType()),
            T.StructField("last_emitted_us", T.LongType()),
            T.StructField("max_seen_us", T.LongType()),
            T.StructField("held", T.BinaryType()),
        ]
        + carry_fields
    )
    n_state = len(state_schema.fields)
    fresh = (None,) * len(carry_fields)

    def fn(
        key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            _, _, blob, *carry = read_state(state, n_state, operator)
            state.remove()
            held = _unpack(blob)
            if held is not None:
                out, _ = step(held, tuple(carry))
                if out is not None and len(out):
                    yield out
            return
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if state.exists:
            last_us, max_us, blob, *carry = read_state(state, n_state, operator)
            carry, held = tuple(carry), _unpack(blob)
        else:
            last_us, max_us, carry, held = None, None, fresh, None
        pdf, ts_us = admit(
            pdf, micros(pdf[time]), last_us, on_late, key[0], operator,
            delay_seconds,
        )
        if len(ts_us):
            batch_max = int(ts_us.max())
            max_us = batch_max if max_us is None else max(max_us, batch_max)
        if held is not None:
            pdf = pd.concat([held, pdf], ignore_index=True)
        out = None
        if len(pdf):
            pdf = pdf.iloc[sort_order(pdf, order)].reset_index(drop=True)
            ts_us = micros(pdf[time])
            k = int(np.searchsorted(ts_us, max_us - delay_us, side="right"))
            ready, pdf = pdf.iloc[:k], pdf.iloc[k:]
            if k:
                out, carry = step(ready, carry)
                last_us = int(ts_us[k - 1])
        state.update((STATE_VERSION, last_us, max_us, _pack(pdf)) + carry)
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out is not None and len(out):
            yield out

    return stream.groupBy(series).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
