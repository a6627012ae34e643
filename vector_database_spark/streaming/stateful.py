"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming, but its in-memory index mutation
surface (O23/O25) maps naturally to keyed state: this module carries
the canonical keyed-accumulator shape — per-key state that survives
across micro-batches and restarts (checkpointed by the engine).

`running_user_stats` keeps (n_events, sum_value, max_ts) per user and
emits the updated totals each micro-batch — the building block for
online feature aggregation over an event stream at scale (state is
partitioned by key across executors; no driver state)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, sum_value double, batch_events long"
)
STATE_SCHEMA = "n long, s double"


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running totals over a streaming events frame.
    Output mode must be 'update'.

    The state kernel is a NESTED closure (pickled by value) per the
    repo rule: a module-level function would be pickled by reference
    and fail with ModuleNotFoundError on any executor whose Python
    worker cannot import this package (driver cwd outside the repo,
    cluster without --py-files)."""

    def update_user_stats(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="int64"),
                "n_events": pd.array([n], dtype="int64"),
                "sum_value": pd.array([s], dtype="float64"),
                "batch_events": pd.array([batch_n], dtype="int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ewma(events: DataFrame, *, alpha: float = 0.25) -> DataFrame:
    """Per-user streaming EWMA — the incremental twin of the batch
    e07 gate: acc = (1-alpha)*acc + alpha*x folded in (ts, event_id)
    order, seeded with the key's first value. Each micro-batch emits
    the key's updated (n_events, ewma). Output mode must be 'update'.

    Equals the batch fold exactly when each key's events arrive in
    event-time order ACROSS micro-batches (the ingest-pipeline case);
    within a micro-batch arrival order never matters (rows are sorted
    before folding)."""
    a = float(alpha)

    def update_ewma(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        ewma, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            order = pdf.assign(_us=ts_us).sort_values(
                ["_us", "event_id"], kind="mergesort"
            )
            for x in order["value"].to_numpy("float64"):
                if n == 0:
                    ewma = float(x)  # first value seeds the fold
                else:
                    ewma = (1.0 - a) * ewma + a * float(x)
                n += 1
        state.update((float(ewma), int(n)))
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="int64"),
                "n_events": pd.array([n], dtype="int64"),
                "ewma": pd.array([ewma], dtype="float64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_ewma,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType="ewma double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    *,
    within_s: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of `operators.timeseries.funnel_steps`: per-user
    greedy conversion chain (anchored at the key's FIRST step-1
    event, each step the first matching event after the previous,
    whole chain within ``within_s`` of the anchor) maintained as
    keyed state across micro-batches. Emits the key's chain so far
    each batch it appears in; output mode must be 'update'.

    Equals the batch operator exactly when each key's events arrive
    in event-time order ACROSS micro-batches (within a batch, rows
    are sorted by (ts, event_id) before the walk — the batch
    operator's total order). The chain-break rule is replayed
    faithfully: the FIRST candidate for the next step decides — if it
    lands past the deadline the chain is dead for good, even if the
    key keeps streaming.

    State per key is O(len(steps)) longs — bounded forever, no event
    retention. The kernel is a nested closure (repo pickle rule)."""
    k = len(steps)
    if k < 2:
        raise ValueError("funnel needs at least 2 steps")
    step_list = [str(s) for s in steps]
    within_us = int(within_s) * 1_000_000 if within_s is not None else None
    ucol, tcol, icol, ecol = user_col, ts_col, id_col, type_col
    # the kernel and state/output schemas are long-typed; fail fast on
    # any other key/id dtype instead of crashing inside the executor
    types = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    for c in (ucol, icol):
        if types.get(c) not in ("bigint", "int", "smallint", "tinyint"):
            raise TypeError(
                f"streaming_funnel requires an integer-typed '{c}' "
                f"(got {types.get(c)}); cast upstream or remap the key"
            )

    def update_funnel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            st = list(state.get)
        else:
            st = [0, 0, 0, 0] + [-1] * k  # depth, dead, cur_us, cur_id
        depth, dead, cur_us, cur_id = st[0], st[1], st[2], st[3]
        us = st[4:]
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf[tcol].to_numpy("datetime64[us]").astype("int64")
            order = pdf.assign(_us=ts_us).sort_values(
                ["_us", icol], kind="mergesort"
            )
            for t, eid, et in zip(
                order["_us"].to_numpy("int64"),
                order[icol].to_numpy("int64"),
                order[ecol],
            ):
                if dead or depth >= k:
                    break
                if depth == 0:
                    if et == step_list[0]:
                        depth, us[0] = 1, int(t)
                        cur_us, cur_id = int(t), int(eid)
                elif et == step_list[depth] and (
                    (t, eid) > (cur_us, cur_id)
                ):
                    # the first candidate decides: advance or die
                    if within_us is None or t <= us[0] + within_us:
                        us[depth] = int(t)
                        depth += 1
                        cur_us, cur_id = int(t), int(eid)
                    else:
                        dead = 1
        state.update(tuple([depth, dead, cur_us, cur_id] + us))
        if depth == 0:
            return  # batch semantics: no row until step 1 happens
        cols = {"user_id": pd.array([user_id], dtype="int64")}
        for i in range(k):
            # a slot is set iff the chain reached step i+1 — never
            # test the value itself (-1 init would misread legitimate
            # pre-1970 timestamps as unset)
            cols[f"us_step{i + 1}"] = pd.array(
                [us[i] if i < depth else None], dtype="Int64"
            )
        cols["funnel_depth"] = pd.array([depth], dtype="int64")
        yield pd.DataFrame(cols)

    us_cols = ", ".join(f"us_step{i + 1} long" for i in range(k))
    filtered = events.where(
        events[ecol].isin(step_list)
    )
    return filtered.groupBy(ucol).applyInPandasWithState(
        update_funnel,
        outputStructType=f"user_id long, {us_cols}, funnel_depth long",
        stateStructType=(
            "depth long, dead long, cur_us long, cur_id long, "
            + ", ".join(f"us{i + 1} long" for i in range(k))
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_twa(events: DataFrame) -> DataFrame:
    """Streaming twin of `operators.timeseries.time_weighted_avg`
    (e12's LOCF shape): per-user exact integer weighted sums
    maintained as keyed state across micro-batches. Emits the key's
    running (n_events, span_us, twa) each batch it appears in;
    output mode must be 'update'.

    Equals the batch operator exactly when each key's events arrive
    in event-time order ACROSS micro-batches (within a batch, rows
    are sorted by (ts, event_id) first — the batch total order). The
    weighted sum sum(vm * dt_us) is an EXACT Python big-int carried
    in the state as a string (i64 overflows at scale, and the state
    schema has no decimal — a 40-char string does; O(1) per key
    either way). The final twa is the same single double division the
    batch operator and its HUGEINT oracle perform."""

    def update_twa(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        import pandas as pd

        (user_id,) = key
        if state.exists:
            n, last_us, last_vm, has_vm, ws_str, span = state.get
            ws = int(ws_str)
        else:
            n, last_us, last_vm, has_vm, ws, span = 0, 0, 0, 0, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            order = pdf.assign(_us=ts_us).sort_values(
                ["_us", "event_id"], kind="mergesort"
            )
            # NULL values mirror the batch twin exactly: the row still
            # advances time (its dt lands in span) and counts in
            # n_events, but its segment adds nothing to the weighted
            # sum (SQL sum() skips the null product). NaN-guard BEFORE
            # floor — math.floor(nan) raises and would kill the query.
            vm = [
                None if v is None or (isinstance(v, float) and v != v)
                else int(math.floor(v * 1_000_000))
                for v in order["value"].tolist()
            ]
            for us, v in zip(order["_us"].to_numpy("int64"), vm):
                if n > 0:
                    dt = int(us) - last_us
                    if has_vm:
                        ws += last_vm * dt
                    span += dt
                last_us = int(us)
                last_vm, has_vm = (v, 1) if v is not None else (0, 0)
                n += 1
        state.update((n, last_us, last_vm, has_vm, str(ws), span))
        # Round HALF_UP like the batch twin's F.round — NOT python
        # round() (half-even): an exact tie at the 6th decimal would
        # break the asserted streaming==batch parity (the documented
        # c01 round-at-tie hazard). Spark's round(double, 6) is
        # BigDecimal.valueOf(x).setScale(6, HALF_UP), and
        # BigDecimal.valueOf uses the shortest decimal repr — exactly
        # Decimal(repr(x)) in Python.
        if span > 0:
            from decimal import ROUND_HALF_UP, Decimal

            exact = float(ws) / (float(span) * 1_000_000)
            twa = float(
                Decimal(repr(exact)).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
            )
        else:
            twa = None
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="int64"),
                "n_events": pd.array([n], dtype="int64"),
                "span_us": pd.array([span], dtype="int64"),
                "twa": pd.array([twa], dtype="float64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_twa,
        outputStructType="user_id long, n_events long, span_us long, twa double",
        stateStructType=(
            "n long, last_us long, last_vm long, has_vm long, "
            "ws string, span long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Streaming twin of e15's first-order transition matrix: per-user
    keyed state carries ONLY the last event (ts, id, type — O(1)
    forever), and each micro-batch emits the transition-count
    INCREMENTS it observed (from_type, to_type, n_batch per user).
    Summing the increments over time equals the batch operator under
    event-time-ordered arrival per key (asserted in tests). Output
    mode must be 'update'; feed the increments to a downstream
    accumulator (foreachBatch merge or a rollup state dir) for the
    global matrix."""

    def update_transitions(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            last_us, last_id, last_type = state.get
        else:
            last_us, last_id, last_type = -1, -1, ""
        counts: dict = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            order = pdf.assign(_us=ts_us).sort_values(
                ["_us", "event_id"], kind="mergesort"
            )
            for us, eid, et in zip(
                order["_us"].to_numpy("int64"),
                order["event_id"].to_numpy("int64"),
                order["event_type"],
            ):
                if last_type:
                    k = (last_type, str(et))
                    counts[k] = counts.get(k, 0) + 1
                last_us, last_id, last_type = int(us), int(eid), str(et)
        state.update((last_us, last_id, last_type))
        if not counts:
            return
        yield pd.DataFrame(
            {
                "user_id": pd.array(
                    [user_id] * len(counts), dtype="int64"
                ),
                "event_type": [k[0] for k in counts],
                "next_type": [k[1] for k in counts],
                "n_batch": pd.array(list(counts.values()), dtype="int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_transitions,
        outputStructType=(
            "user_id long, event_type string, next_type string,"
            " n_batch long"
        ),
        stateStructType="last_us long, last_id long, last_type string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_attribution(
    events: DataFrame,
    *,
    conversion_type: str,
    touch_types: list,
    window_s: int,
) -> DataFrame:
    """Per-user streaming last-touch attribution — the incremental
    twin of the batch e21 gate (`timeseries.last_touch_attribution`):
    keyed state carries the user's latest touch (ts_us, id, type);
    each micro-batch's rows are sorted by (ts, event_id) and walked
    in order — touches update the carry, conversions emit one
    attribution row (NULLs when no touch within ``window_s``). Output
    mode must be 'append' (each conversion is emitted exactly once,
    in the micro-batch that delivers it).

    Equals the batch operator exactly when each key's events arrive
    in event-time order ACROSS micro-batches (the ingest-pipeline
    case; the same contract as streaming_ewma/streaming_funnel) —
    within a micro-batch, arrival order never matters. State is O(1)
    per user: one (ts_us, id, type) triple, no event retention."""
    tt = {str(t) for t in touch_types}
    conv = str(conversion_type)
    win_us = int(window_s) * 1_000_000

    def update_attr(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            t_us, t_id, t_type = state.get
        else:
            t_us, t_id, t_type = None, None, None
        out: dict[str, list] = {
            k: []
            for k in (
                "conversion_id", "conversion_us", "touch_id",
                "touch_us", "touch_type", "lag_us",
            )
        }
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
            ordered = pdf.assign(_us=ts_us).sort_values(
                ["_us", "event_id"], kind="mergesort"
            )
            for us, eid, etype in zip(
                ordered["_us"].to_numpy("int64"),
                ordered["event_id"].to_numpy("int64"),
                ordered["event_type"],
            ):
                if etype in tt:
                    t_us, t_id, t_type = int(us), int(eid), str(etype)
                elif etype == conv:
                    ok = t_us is not None and us - t_us <= win_us
                    out["conversion_id"].append(int(eid))
                    out["conversion_us"].append(int(us))
                    out["touch_id"].append(t_id if ok else None)
                    out["touch_us"].append(t_us if ok else None)
                    out["touch_type"].append(t_type if ok else None)
                    out["lag_us"].append(int(us - t_us) if ok else None)
        if t_us is not None:
            state.update((int(t_us), int(t_id), str(t_type)))
        if out["conversion_id"]:
            yield pd.DataFrame(
                {
                    "user_id": pd.array(
                        [user_id] * len(out["conversion_id"]), dtype="int64"
                    ),
                    "conversion_id": pd.array(
                        out["conversion_id"], dtype="int64"
                    ),
                    "conversion_us": pd.array(
                        out["conversion_us"], dtype="int64"
                    ),
                    "touch_id": pd.array(out["touch_id"], dtype="Int64"),
                    "touch_us": pd.array(out["touch_us"], dtype="Int64"),
                    "touch_type": pd.Series(
                        out["touch_type"], dtype="object"
                    ),
                    "lag_us": pd.array(out["lag_us"], dtype="Int64"),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update_attr,
        outputStructType=(
            "user_id long, conversion_id long, conversion_us long, "
            "touch_id long, touch_us long, touch_type string, lag_us long"
        ),
        stateStructType="ts_us long, id long, type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
