"""Custom stateful aggregation via ``applyInPandasWithState`` — the
general escape hatch for accumulators that do NOT decompose into
built-in aggregates (SURVEY.md §2.4 A2 notes the reference's
CountAndTotal *does* decompose; this exists for the ones that don't,
and doubles as the A2 parity path with explicit state).

State layout mirrors the reference's CountAndTotal POJO
(``model-json/.../CountAndTotal.json``): (count, total) per key,
initialized to (0, 0) (``PurchasesTopology.java:75-80``) and updated
record-at-a-time (``:62-66``) — here batch-at-a-time per key, same
converged result.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, cnt long, total double"
STATE_SCHEMA = "cnt long, total double"


def _update_count_and_total(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        cnt, total = state.get
    else:
        cnt, total = 0, 0.0  # initializer parity: PurchasesTopology.java:75-80
    for pdf in pdf_iter:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
    state.update((cnt, total))
    yield pd.DataFrame({"key": [key[0]], "cnt": [cnt], "total": [total]})


def stateful_count_and_total(keyed: DataFrame) -> DataFrame:
    """``keyed`` must have columns (key string, value double) and be a
    streaming DataFrame. Emits the running (count, total) per key each
    micro-batch.

    Scale notes: state lives in the state store (RocksDB provider in
    production — same backend family as the reference's stores);
    groups are Arrow-batched into pandas, so the Python crossing is
    columnar, not per-record."""
    return keyed.groupBy("key").applyInPandasWithState(
        _update_count_and_total,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming EWMA (bounded value window per key)
# --------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = "user_id long, n_window int, ewma double"
EWMA_STATE_SCHEMA = "vals string"


def _fold_ewma(vals: list[float]) -> float:
    acc = 0.0
    for v in vals:
        acc = acc / 2.0 + v
    return acc / (2.0 - 2.0 ** (1 - len(vals)))


def _update_ewma(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State = the last EWMA_WINDOW raw values per user (bounded,
    constant size — the whole point of the bounded EWMA form; the
    unbounded recurrence would still be O(1) state but could never be
    replayed bit-exactly from a bounded store). Values are serialized
    through repr() so the binary64 round-trip is exact."""
    from ..operators.stats import EWMA_WINDOW

    vals: list[float] = (
        [float(x) for x in state.get[0].split(",") if x]
        if state.exists
        else []
    )
    for pdf in pdf_iter:
        # deterministic within-batch order: the same (ts, event_id)
        # total order the batch operator sorts by
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            vals.append(float(v))
            if len(vals) > EWMA_WINDOW:
                vals.pop(0)
    state.update((",".join(repr(v) for v in vals),))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_window": [len(vals)],
            "ewma": [_fold_ewma(vals)],
        }
    )


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/stats.ewma_user_value_query``:
    per user, the EWMA over their last EWMA_WINDOW values, emitted
    per micro-batch in update mode. The converged state after
    draining a corpus equals the batch query's LAST row per user
    bit-for-bit (asserted in tests/test_streaming.py) — same fold,
    same order, same normalizer."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming watermark-lag audit (running-max lateness per event type)
# --------------------------------------------------------------------------

WLAG_OUTPUT_SCHEMA = (
    "event_type string, n_events long, n_late long, max_late_s long, "
    "avg_late_s double"
)
WLAG_STATE_SCHEMA = (
    "run_max_us long, n long, n_late long, max_late long, sum_late long"
)


def _update_wlag(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State = (running max event-time in micros, counts and exact
    integer lateness sums) per event_type — O(1), replayable. Rows
    fold in event_id order (the batch audit's arrival proxy), so the
    converged state equals dq.watermark_lag_audit_query bit-for-bit
    when files respect that order (asserted in tests)."""
    run_max, n, n_late, max_late, sum_late = (
        tuple(state.get) if state.exists else (-1, 0, 0, 0, 0)
    )
    for pdf in pdf_iter:
        pdf = pdf.sort_values("event_id")
        for us in pdf["ts_us"]:
            us = int(us)
            late = (run_max - us) // 1_000_000 if run_max > us else 0
            n += 1
            if late > 0:
                n_late += 1
                sum_late += late
            if late > max_late:
                max_late = late
            if us > run_max:
                run_max = us
    state.update((run_max, n, n_late, max_late, sum_late))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "n_late": [n_late],
            "max_late_s": [max_late],
            "avg_late_s": [sum_late / n_late if n_late > 0 else None],
        }
    )


def streaming_watermark_lag(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/dq.watermark_lag_audit_query``:
    per event type, how far event time runs behind the running
    arrival-order maximum — maintained as STREAMING STATE instead of
    a batch window, which is exactly how the audit runs in production
    (the number feeds ``withWatermark(delay)`` for THIS stream while
    it flows). Emit-per-update (A4): every micro-batch re-emits the
    types it touched with the updated distribution."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        _update_wlag,
        outputStructType=WLAG_OUTPUT_SCHEMA,
        stateStructType=WLAG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming bottom-K priority sample (mergeable reservoir as state)
# --------------------------------------------------------------------------

PRIO_OUTPUT_SCHEMA = (
    "rank integer, doc_id long, source string, priority string"
)
PRIO_STATE_SCHEMA = (
    "ids array<long>, srcs array<string>, prios array<string>"
)


def _update_bottomk(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from _kafka_streams_scaffold_spark.operators.sampling import PRIORITY_K

    if state.exists:
        ids, srcs, prios = state.get
        rows = list(zip(list(ids), list(srcs), list(prios)))
    else:
        rows = []
    for pdf in pdf_iter:
        rows.extend(
            zip(
                pdf["doc_id"].tolist(),
                pdf["source"].tolist(),
                pdf["priority"].tolist(),
            )
        )
    # bottom-K by (priority, doc_id): the KMV selection rule — the
    # bottom-k of a union is the bottom-k of the parts' bottom-ks, so
    # K rows of state absorb any number of micro-batches
    rows.sort(key=lambda t: (t[2], t[0]))
    rows = rows[:PRIORITY_K]
    state.update(
        (
            [int(r[0]) for r in rows],
            [r[1] for r in rows],
            [r[2] for r in rows],
        )
    )
    yield pd.DataFrame(
        {
            "rank": range(1, len(rows) + 1),
            "doc_id": [r[0] for r in rows],
            "source": [r[1] for r in rows],
            "priority": [r[2] for r in rows],
        }
    )


def streaming_priority_sample(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/sampling.priority_sample_query``:
    the exact-size uniform sample maintained AS STATE while the
    corpus streams in — the bottom-PRIORITY_K of the same keyed md5
    priority, kept as a K-row reservoir in the state store. Because
    bottom-k is mergeable (the KMV rule the batch docstring cites),
    K rows of state are sufficient no matter how many micro-batches
    flow; every update re-emits the current sample keyed by RANK
    (A4 emit-per-update), so an upsert store converges to exactly the
    batch sample over the same records — the twin test's assertion.

    The grouping key is a single global group: the state is K rows
    and the Python crossing is Arrow-batched, but every row does
    shuffle to one task. At 100 TB the production form pre-reduces
    per partition (mergeability again: a per-partition bottom-K
    TakeOrdered before the stateful stage) so the global group sees
    |partitions| * K rows per batch, not the corpus; that
    pre-reduction is a plain batch transform on the micro-batch and
    changes nothing about this operator's contract."""
    from pyspark.sql import functions as F

    from _kafka_streams_scaffold_spark.operators.sampling import (
        _PRIORITY_SEED,
    )

    keyed = docs.select(
        F.lit(1).alias("g"),
        "doc_id",
        "source",
        F.expr(
            f"md5(concat('{_PRIORITY_SEED}', cast(doc_id as string)))"
        ).alias("priority"),
    )
    return keyed.groupBy("g").applyInPandasWithState(
        _update_bottomk,
        outputStructType=PRIO_OUTPUT_SCHEMA,
        stateStructType=PRIO_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

# --------------------------------------------------------------------------
# Streaming session-concurrency sweep (per-day segment state)
# --------------------------------------------------------------------------

CONC_OUTPUT_SCHEMA = "d long, n_sessions long, max_concurrent long"
CONC_STATE_SCHEMA = "starts array<long>, ends array<long>"


def _update_concurrency(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        starts, ends = state.get
        starts, ends = list(starts), list(ends)
    else:
        starts, ends = [], []
    for pdf in pdf_iter:
        starts.extend(int(x) for x in pdf["a"].tolist())
        ends.extend(int(x) for x in pdf["b"].tolist())
    state.update((starts, ends))
    # event-boundary sweep over the day's accumulated segments: +1 at
    # each start, -1 after each end; net-sum per instant BEFORE the
    # running sum (the batch op's order-independence contract)
    net: dict[int, int] = {}
    for s in starts:
        net[s] = net.get(s, 0) + 1
    for e in ends:
        net[e + 1] = net.get(e + 1, 0) - 1
    run, peak = 0, 0
    for t in sorted(net):
        run += net[t]
        peak = max(peak, run)
    yield pd.DataFrame(
        {
            "d": [int(key[0])],
            "n_sessions": [len(starts)],
            "max_concurrent": [peak],
        }
    )


def streaming_session_concurrency(segments: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/analytics.session_concurrency_
    query``: the per-day interval sweep maintained AS STATE while
    day-clipped session segments stream in. Consumes exactly the
    rows ``analytics.session_day_segments`` produces (the
    ivm_pieces/streaming_ivm_deltas pattern: the segment producer is
    batch-shared, so both modes sweep identical inputs). State per
    day is the segment endpoint lists — bounded by that day's session
    volume, the same per-day independence that lets the batch sweep
    partition by day — and each update re-emits the day's
    (n_sessions, max_concurrent) keyed by day (A4 emit-per-update),
    so an upsert store converges to the batch answer over the same
    segments. The sweep re-runs over the day's state per update:
    event-boundary +1/-1 with per-instant net-summing, identical
    semantics to the batch window."""
    return segments.groupBy("d").applyInPandasWithState(
        _update_concurrency,
        outputStructType=CONC_OUTPUT_SCHEMA,
        stateStructType=CONC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming CUSUM changepoint (day-spine state per event type)
# --------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = (
    "event_type string, changepoint_day long, n_days long, "
    "cusum_scaled long, direction string"
)
CUSUM_STATE_SCHEMA = "days array<long>, counts array<long>"


def _update_cusum(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        days, counts = state.get
        acc = dict(zip((int(d) for d in days), (int(c) for c in counts)))
    else:
        acc = {}
    for pdf in pdf_iter:
        for d in pdf["day"].tolist():
            d = int(d)
            acc[d] = acc.get(d, 0) + 1
    items = sorted(acc.items())
    state.update(([d for d, _ in items], [c for _, c in items]))
    # the batch op's exact integer form: c_i = n*prefix_i - i*S,
    # argmax |c| with ties to the EARLIER day
    n = len(items)
    s_total = sum(c for _, c in items)
    best_day, best_c = items[0][0], 0
    prefix = 0
    for i, (d, c) in enumerate(items, start=1):
        prefix += c
        cu = n * prefix - i * s_total
        if abs(cu) > abs(best_c):
            best_day, best_c = d, cu
    direction = "up" if best_c > 0 else ("down" if best_c < 0 else "flat")
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "changepoint_day": [best_day],
            "n_days": [n],
            "cusum_scaled": [best_c],
            "direction": [direction],
        }
    )


def streaming_cusum_changepoint(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/stats.cusum_changepoint_query``:
    the CUSUM change-point locator maintained AS STATE while events
    stream in. ``events`` must carry (event_type string, day long) —
    one row per event, day as an epoch-day index. State per event
    type is the (day -> count) spine — bounded by the calendar, the
    same day-spine argument the batch op makes for its window — and
    each update replays the exact integer CUSUM
    (c_i = n * prefix_i - i * S, argmax |c|, ties to the earlier
    day) over the accumulated spine, emitting the current changepoint
    per update (A4). Converged state over the same events equals the
    batch answer, which is the twin test's assertion."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_cusum,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming SPRT (round-9 twin of operators/inference.sprt_daily_decision)
# --------------------------------------------------------------------------

SPRT_OUTPUT_SCHEMA = (
    "metric string, n_days long, k_cum long, m_cum long, "
    "llr double, state string"
)
SPRT_STATE_SCHEMA = "days array<long>, ks array<long>, ms array<long>"


def _update_sprt(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from ..operators.inference import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_LOWER,
        _SPRT_UPPER,
    )

    if state.exists:
        days, ks, ms = state.get
        acc = {
            int(d): [int(k), int(m)]
            for d, k, m in zip(days, ks, ms)
        }
    else:
        acc = {}
    for pdf in pdf_iter:
        for d, k, m in zip(
            pdf["day"].tolist(), pdf["k"].tolist(), pdf["m"].tolist()
        ):
            cell = acc.setdefault(int(d), [0, 0])
            cell[0] += int(k)
            cell[1] += int(m)
    items = sorted(acc.items())
    state.update(
        (
            [d for d, _ in items],
            [c[0] for _, c in items],
            [c[1] for _, c in items],
        )
    )
    # replay the latched sequential test over the accumulated spine —
    # literally the batch op's arithmetic (same baked constants)
    k_cum = m_cum = 0
    llr = 0.0
    decision = None
    for _, (k, m) in items:
        k_cum += k
        m_cum += m
        llr = k_cum * _SPRT_A + (m_cum - k_cum) * _SPRT_B
        if decision is None:
            if llr >= _SPRT_UPPER:
                decision = "accept_h1"
            elif llr <= _SPRT_LOWER:
                decision = "accept_h0"
    yield pd.DataFrame(
        {
            "metric": [key[0]],
            "n_days": [len(items)],
            "k_cum": [k_cum],
            "m_cum": [m_cum],
            "llr": [llr],
            "state": [decision or "continue"],
        }
    )


def streaming_sprt(daily: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/inference.sprt_daily_decision``:
    Wald's sequential test maintained AS STATE while per-day
    (metric, day, k, m) count increments stream in. State is the
    (day -> (k, m)) spine — calendar-bounded, the same argument the
    batch op's window makes — and each update replays the latched
    LLR walk with the SAME baked constants, emitting the current
    terminal (k_cum, m_cum, llr, state) per update (A4). The twin
    test asserts the converged emission equals the batch op's final
    day row. This is the natural deployment of a sequential test —
    it exists to be read WHILE data arrives, not after."""
    return daily.groupBy("metric").applyInPandasWithState(
        _update_sprt,
        outputStructType=SPRT_OUTPUT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming last/first-touch attribution (round-9 twin of
# operators/analytics.revenue_attribution)
# --------------------------------------------------------------------------

ATTR_OUTPUT_SCHEMA = (
    "event_id long, first_ch string, last_ch string, cents long"
)
ATTR_STATE_SCHEMA = "first_ch string, last_ch string"


def _update_attribution(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        first_ch, last_ch = state.get
    else:
        first_ch, last_ch = None, None
    out_ids: list[int] = []
    out_first: list[str] = []
    out_last: list[str] = []
    out_cents: list[int] = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            if row["event_type"] == "purchase":
                out_ids.append(int(row["event_id"]))
                out_first.append(first_ch if first_ch else "none")
                out_last.append(last_ch if last_ch else "none")
                out_cents.append(int(row["cents"]))
            else:
                if first_ch is None:
                    first_ch = str(row["event_type"])
                last_ch = str(row["event_type"])
    state.update((first_ch, last_ch))
    yield pd.DataFrame(
        {
            "event_id": out_ids,
            "first_ch": out_first,
            "last_ch": out_last,
            "cents": out_cents,
        }
    )


def streaming_attribution(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/analytics.revenue_attribution``:
    per-user first/last-touch state (TWO strings per user — O(1)
    state, the production-shaped version) attributes each purchase AS
    IT ARRIVES; emissions are keyed by the purchase event_id, so an
    upsert store converges to one attributed row per purchase and a
    plain rollup of the store equals the batch operator's
    (model, channel) totals. ``events`` must carry (user_id, ts,
    event_id, event_type, cents) in per-user event-time order across
    micro-batches (the sessionization twins' delivery contract);
    within a batch the update sorts by (ts, event_id) itself."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Page-Hinkley (round-10 twin of operators/drift.page_hinkley_drift)
# --------------------------------------------------------------------------

PH_OUTPUT_SCHEMA = (
    "metric string, n_days long, v_stat long, ph_stat long, alarm int"
)
PH_STATE_SCHEMA = "days array<long>, xs array<long>"


def _update_page_hinkley(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from ..operators.drift import (
        _PH_BASELINE_DAYS,
        _PH_DELTA,
        _PH_LAMBDA,
    )

    if state.exists:
        days, xs = state.get
        acc = {int(d): int(x) for d, x in zip(days, xs)}
    else:
        acc = {}
    for pdf in pdf_iter:
        for d, x in zip(pdf["day"].tolist(), pdf["x"].tolist()):
            acc[int(d)] = acc.get(int(d), 0) + int(x)
    items = sorted(acc.items())
    state.update(
        ([d for d, _ in items], [x for _, x in items])
    )
    # replay the batch op's EXACT integer arithmetic over the
    # accumulated day spine (same baked constants): baseline sum over
    # the first b_eff days, V_t = b*S_t - t*S_b - t*b*delta, running
    # min, alarm when the gap exceeds b*lambda
    b = min(_PH_BASELINE_DAYS, len(items))
    s_b = sum(x for _, x in items[:b])
    s_t = 0
    v = 0
    run_min = None
    for t, (_, x) in enumerate(items, start=1):
        s_t += x
        v = b * s_t - t * s_b - t * b * _PH_DELTA
        run_min = v if run_min is None else min(run_min, v)
    ph = 0 if run_min is None else v - run_min
    yield pd.DataFrame(
        {
            "metric": [key[0]],
            "n_days": [len(items)],
            "v_stat": [v],
            "ph_stat": [ph],
            "alarm": [int(ph > b * _PH_LAMBDA)],
        }
    )


def streaming_page_hinkley(daily: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/drift.page_hinkley_drift``: the
    Page-Hinkley mean-shift detector maintained AS STATE while
    per-day (metric, day, x) count increments stream in. State is the
    (day -> x) spine — calendar-bounded, the same argument the batch
    op's window makes, and necessary because late increments to ANY
    day (including the baseline week) legally reshape the whole walk
    — and each update replays the batch op's exact BIGINT arithmetic
    with the SAME baked constants, emitting the current terminal
    (v_stat, ph_stat, alarm) per update (A4). The twin test asserts
    the converged emission equals the batch op's final day row. Like
    streaming_sprt, this is the detector's natural deployment: it
    exists to alarm WHILE volume shifts, not in a nightly batch."""
    return daily.groupBy("metric").applyInPandasWithState(
        _update_page_hinkley,
        outputStructType=PH_OUTPUT_SCHEMA,
        stateStructType=PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming codec quarantine (round-11 twin of operators/codec.codec_audit)
# --------------------------------------------------------------------------

CODEC_Q_OUTPUT_SCHEMA = (
    "modality string, n_ok long, n_quarantined long, units_total long"
)
CODEC_Q_STATE_SCHEMA = "n_ok long, n_quarantined long, units_total long"


def _update_codec_quarantine(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n_ok, n_bad, units = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        ok = pdf["decode_ok"].astype(bool)
        n_ok += int(ok.sum())
        n_bad += int((~ok).sum())
        units += int(pdf.loc[ok, "n_units"].sum())
    state.update((n_ok, n_bad, units))
    yield pd.DataFrame(
        {
            "modality": [key[0]],
            "n_ok": [n_ok],
            "n_quarantined": [n_bad],
            "units_total": [units],
        }
    )


def streaming_codec_quarantine(audited: DataFrame) -> DataFrame:
    """Streaming twin of the ``codec_audit`` aggregate: per-modality
    quarantine counters maintained AS STATE while decode-audited rows
    (``operators/codec.decode_audit`` — mapInPandas runs unchanged on
    a streaming frame) arrive. This is the R1 poison-pill policy in
    its natural streaming deployment: a media-ingest pipeline that
    must keep a live count of quarantined blobs per modality rather
    than discover them in a nightly batch. Quarantined rows carry
    modality='' (the decoder could not trust the header), so they
    accumulate under the empty-string key — provenance preserved, the
    job never dies. State is three BIGINTs per modality (bounded by
    the modality vocabulary, not the stream), and each update emits
    the converged-so-far row per A4; the twin test asserts the final
    emission equals the batch ``codec_audit`` aggregate over the same
    corrupted corpus."""
    return audited.groupBy("modality").applyInPandasWithState(
        _update_codec_quarantine,
        outputStructType=CODEC_Q_OUTPUT_SCHEMA,
        stateStructType=CODEC_Q_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Benford audit (round-11 twin of operators/dq.benford_audit)
# --------------------------------------------------------------------------

BENFORD_OUTPUT_SCHEMA = (
    "digit int, n long, p_observed double, p_expected double, "
    "chi2_contrib double"
)
BENFORD_STATE_SCHEMA = "counts array<long>"


def _update_benford(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from ..operators.dq import _BENFORD_P

    counts = list(state.get[0]) if state.exists else [0] * 9
    for pdf in pdf_iter:
        for d in pdf["digit"].tolist():
            counts[int(d) - 1] += 1
    state.update((counts,))
    t = sum(counts)
    rows = []
    for d in range(1, 10):
        n = counts[d - 1]
        if n == 0:
            continue  # the batch groupBy emits only digits present
        # the batch op's EXACT double arithmetic: int/int division,
        # then (p_obs - p_exp) * (p_obs - p_exp) / p_exp left-to-
        # right, against the same compile-time _BENFORD_P literals —
        # IEEE-identical to the Spark expression, so the twin test
        # can assert bit-equality on the floats too
        p_obs = n / t
        p_exp = _BENFORD_P[d]
        rows.append(
            {
                "digit": d,
                "n": n,
                "p_observed": p_obs,
                "p_expected": p_exp,
                "chi2_contrib": (p_obs - p_exp) * (p_obs - p_exp) / p_exp,
            }
        )
    yield pd.DataFrame.from_records(
        rows,
        columns=["digit", "n", "p_observed", "p_expected", "chi2_contrib"],
    )


def streaming_benford(digits: DataFrame) -> DataFrame:
    """Streaming twin of ``dq.benford_audit``: the first-digit
    distribution of a live amount stream held as nine BIGINT counters,
    re-emitting every digit's (n, p_observed, p_expected,
    chi2_contrib) row per update (A4) with the batch op's exact
    arithmetic — Benford screening deployed the way a finance DQ
    monitor actually wants it: alarming WHILE fabricated or unit-mixed
    amounts stream in, not in a nightly batch. Input must already
    carry the batch op's arithmetic ``digit`` column (the same
    stateless expression runs on the stream).

    Scale: the statistic is GLOBAL, so all rows converge on one state
    key holding nine BIGINTs. The shuffled record is a single int per
    qualifying order; at ingest rates where one reducer's row
    throughput binds, pre-bucket per source partition in foreachBatch
    and feed (digit, partial_count) increments instead — the state
    fold is associative so the twin's arithmetic is unchanged."""
    return digits.withColumn("k", F.lit("all")).groupBy(
        "k"
    ).applyInPandasWithState(
        _update_benford,
        outputStructType=BENFORD_OUTPUT_SCHEMA,
        stateStructType=BENFORD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming PSI (round-11 twin of operators/dq.psi_drift_score)
# --------------------------------------------------------------------------

PSI_OUTPUT_SCHEMA = (
    "bucket long, n_baseline long, n_current long, term_fp long, "
    "psi_contrib double"
)
PSI_STATE_SCHEMA = (
    "buckets array<long>, n_base array<long>, n_cur array<long>"
)


def _update_psi(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import math

    from ..operators.dq import _PSI_FP

    acc: dict[int, list[int]] = {}
    if state.exists:
        bks, nb, nc = state.get
        acc = {int(k): [int(x), int(y)] for k, x, y in zip(bks, nb, nc)}
    for pdf in pdf_iter:
        for bkt, isb in zip(pdf["bucket"].tolist(), pdf["is_base"].tolist()):
            e = acc.setdefault(int(bkt), [0, 0])
            e[0 if isb else 1] += 1
    items = sorted(acc.items())
    state.update(
        (
            [k for k, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
        )
    )
    # the batch op's EXACT arithmetic: add-one smoothing over exact
    # BIGINT counts with B = observed bucket count, each term floored
    # to the 1e12 fixed point BEFORE any consumer sums — int/int
    # division and left-to-right double products match the Spark
    # expression op-for-op (the only cross-impl surface is ln, whose
    # <=1-ulp spread sits far inside the fixed-point floor on these
    # magnitudes — same argument the DuckDB oracle already rides)
    t_base = sum(v[0] for _, v in items)
    t_cur = sum(v[1] for _, v in items)
    b = len(items)
    rows = []
    for bkt, (cb, cc) in items:
        p = (cb + 1) / (t_base + b)
        q = (cc + 1) / (t_cur + b)
        term_fp = math.floor(float(_PSI_FP) * (q - p) * math.log(q / p))
        rows.append(
            {
                "bucket": bkt,
                "n_baseline": cb,
                "n_current": cc,
                "term_fp": term_fp,
                "psi_contrib": term_fp / float(_PSI_FP),
            }
        )
    yield pd.DataFrame.from_records(
        rows,
        columns=[
            "bucket", "n_baseline", "n_current", "term_fp", "psi_contrib"
        ],
    )


def streaming_psi(assigned: DataFrame) -> DataFrame:
    """Streaming twin of ``dq.psi_drift_score``: the Population
    Stability Index maintained AS STATE while (bucket, is_base)
    assignments stream in — model monitoring deployed the way it
    actually runs: the baseline window is PINNED (a training-snapshot
    boundary the caller stamps into ``is_base``; the batch op derives
    the same boundary from the data's temporal midpoint) and the
    score must move WHILE the serving distribution drifts, not in a
    nightly batch. Every update replays the batch op's exact
    fixed-point arithmetic over the full bucket spine and re-emits
    all bucket rows (A4; PSI is global — one new event reshapes every
    bucket's smoothed p/q through the totals).

    Scale: state is the (bucket -> two BIGINTs) spine on one global
    key — bounded by the bin design (22 here), not the stream; the
    shuffled record is two small ints. The single-reducer ingest
    bound has the same foreachBatch pre-bucketing recipe as
    streaming_benford (the fold is associative)."""
    return assigned.withColumn("k", F.lit("all")).groupBy(
        "k"
    ).applyInPandasWithState(
        _update_psi,
        outputStructType=PSI_OUTPUT_SCHEMA,
        stateStructType=PSI_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming CMH (round-11 twin of operators/inference.cmh_event_value)
# --------------------------------------------------------------------------

CMH_OUTPUT_SCHEMA = (
    "k string, n_strata long, n_events long, sum_a long, "
    "sum_e double, sum_v double, cmh double"
)
CMH_STATE_SCHEMA = (
    "days array<string>, nk array<long>, r1 array<long>, "
    "c1 array<long>, a array<long>"
)


def _update_cmh(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    acc: dict[str, list[int]] = {}
    if state.exists:
        days, nk, r1, c1, a = state.get
        acc = {
            d: [int(w), int(x), int(y), int(z)]
            for d, w, x, y, z in zip(days, nk, r1, c1, a)
        }
    for pdf in pdf_iter:
        for day, click, high in zip(
            pdf["day"].tolist(),
            pdf["is_click"].tolist(),
            pdf["is_high"].tolist(),
        ):
            e = acc.setdefault(str(day), [0, 0, 0, 0])
            e[0] += 1
            e[1] += int(click)
            e[2] += int(high)
            e[3] += int(click and high)
    items = sorted(acc.items())
    state.update(
        (
            [d for d, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
            [v[2] for _, v in items],
            [v[3] for _, v in items],
        )
    )
    # the batch op's EXACT arithmetic, day-sorted left-to-right fold:
    # E_k = double(r1) * double(c1) / double(nk) and the
    # hypergeometric V_k as exact-integer products converted to
    # double before ONE division (Python ints are exact through the
    # products; float() conversion matches the DECIMAL->double cast
    # while the values sit inside 2^53 — the same window where the
    # batch op's own comparator operates)
    sum_a = sum(v[3] for _, v in items)
    n_events = sum(v[0] for _, v in items)
    sum_e = 0.0
    sum_v = 0.0
    for _, (nk_, r1_, c1_, _a) in items:
        sum_e += float(r1_) * float(c1_) / float(nk_)
        if nk_ > 1:
            sum_v += float(
                (r1_ * (nk_ - r1_)) * (c1_ * (nk_ - c1_))
            ) / float((nk_ * nk_) * (nk_ - 1))
    dev = float(sum_a) - sum_e
    cmh = dev * dev / sum_v if sum_v > 0 else None
    yield pd.DataFrame.from_records(
        [
            {
                "k": "all",
                "n_strata": len(items),
                "n_events": n_events,
                "sum_a": sum_a,
                "sum_e": sum_e,
                "sum_v": sum_v,
                "cmh": cmh,
            }
        ],
        columns=[
            "k", "n_strata", "n_events", "sum_a", "sum_e", "sum_v", "cmh"
        ],
    )


def streaming_cmh(tagged: DataFrame) -> DataFrame:
    """Streaming twin of ``inference.cmh_event_value``: the
    day-stratified Cochran-Mantel-Haenszel statistic maintained AS
    STATE while (day, is_click, is_high) rows stream in — the
    confounder-proof A/B monitor deployed the way experimentation
    actually runs: each arriving event updates only its own day's
    2x2, and the cross-stratum sums re-fold the full day spine per
    update (A4 emit-per-update) with the batch op's exact
    day-sorted arithmetic, so a pooled-association mirage from
    day-mix shift can never fire the alarm mid-experiment. Input
    carries the batch op's stateless projections (``day``,
    ``is_click``, ``is_high`` — the value threshold is the same
    compile-time constant).

    Scale: state is the (day -> four BIGINTs) spine on one global
    key — bounded by the experiment's duration, not the stream; the
    shuffled record is a date and two booleans. The single-reducer
    ingest bound has the same foreachBatch pre-aggregation recipe as
    streaming_benford: per-day 2x2 increments fold associatively."""
    return tagged.withColumn("k", F.lit("all")).groupBy(
        "k"
    ).applyInPandasWithState(
        _update_cmh,
        outputStructType=CMH_OUTPUT_SCHEMA,
        stateStructType=CMH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Durbin-Watson (round-11 twin of stats.durbin_watson_daily)
# --------------------------------------------------------------------------

DW_OUTPUT_SCHEMA = (
    "k string, n_days long, total_orders long, dw_num long, "
    "dw_den long, dw double"
)
DW_STATE_SCHEMA = "days array<string>, x array<long>"


def _update_dw(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    acc: dict[str, int] = {}
    if state.exists:
        days, xs = state.get
        acc = {d: int(x) for d, x in zip(days, xs)}
    for pdf in pdf_iter:
        for day in pdf["day"].tolist():
            acc[str(day)] = acc.get(str(day), 0) + 1
    items = sorted(acc.items())
    state.update(([d for d, _ in items], [x for _, x in items]))
    # the batch op's EXACT integer arithmetic: D-scaled residuals
    # s_t = D*x_t - S are Python ints (arbitrary precision, a
    # superset of the BIGINT window the batch op documents), so
    # num/den and the final single IEEE division are bit-identical
    d = len(items)
    s = sum(x for _, x in items)
    sv = [d * x - s for _, x in items]
    num = sum((sv[t] - sv[t - 1]) ** 2 for t in range(1, d))
    den = sum(v * v for v in sv)
    yield pd.DataFrame.from_records(
        [
            {
                "k": "all",
                "n_days": d,
                "total_orders": s,
                "dw_num": num,
                "dw_den": den,
                # float() each side first: the batch op casts BOTH
                # BIGINTs to double before the division, and Python's
                # int/int true division would instead round the exact
                # rational — different once num/den outgrow 2^53
                "dw": float(num) / float(den) if den > 0 else None,
            }
        ],
        columns=["k", "n_days", "total_orders", "dw_num", "dw_den", "dw"],
    )


def streaming_durbin_watson(days: DataFrame) -> DataFrame:
    """Streaming twin of ``stats.durbin_watson_daily``: the lag-1
    serial-correlation statistic of daily arrival volume maintained
    AS STATE while order events stream in — the ingestion-burst
    monitor deployed live: multi-day backfills batched into bursts
    drag dw below 2 WHILE they land, not in a nightly batch. Each
    arriving event increments its day's counter and the full
    day-spine DW recomputes per update (A4 emit-per-update; DW is
    global — one new event moves the mean and so every scaled
    residual). Input carries the batch op's stateless projection
    (a ``day`` string column).

    Scale: state is the (day -> BIGINT) spine on one global key —
    bounded by the stream's calendar span, not its rate; the
    shuffled record is one date string. Same foreachBatch
    pre-aggregation recipe as streaming_benford for ingest rates
    where the single reducer binds (per-day increments fold
    associatively)."""
    return days.withColumn("k", F.lit("all")).groupBy(
        "k"
    ).applyInPandasWithState(
        _update_dw,
        outputStructType=DW_OUTPUT_SCHEMA,
        stateStructType=DW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
