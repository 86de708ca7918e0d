"""Arbitrary stateful streaming operators via applyInPandasWithState.

The escape hatch for semantics the built-in windows can't express —
the streaming analog of the reference's arbitrary per-record handler
(kaflow A7) but with explicit, watermark-bounded state.

``running_aggregate`` is the canonical example: per-key running
count/sum maintained across micro-batches with a processing-timeout
eviction. State lives in the state store (RocksDB-backed in the
session posture), sized by distinct keys — bounded by the timeout.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_aggregate(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key running (count, sum, max) across micro-batches.

    Output one row per key per batch with the updated running values.
    On batch frames falls back to a plain groupBy aggregate with the
    same output schema (so the same pipeline runs in tests).
    """
    out_schema = f"{key_col} bigint, run_count bigint, run_sum double, run_max double"
    state_schema = "run_count bigint, run_sum double, run_max double"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        cnt, sm, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col].astype("float64")
            cnt += len(vals)
            sm += float(vals.sum())
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((cnt, sm, mx))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [{key_col: key[0], "run_count": cnt, "run_sum": sm, "run_max": mx}]
        )

    if not df.isStreaming:
        from pyspark.sql import functions as F

        return df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("run_count"),
            F.sum(F.col(value_col).cast("double")).alias("run_sum"),
            F.max(F.col(value_col).cast("double")).alias("run_max"),
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _cents_half_up(values: "pd.Series") -> "pd.Series":
    """Double -> exact cents with the SAME semantics as Spark's
    ``CAST(value AS DECIMAL(18,2)) * 100`` (the batch twins' path):
    BigDecimal of the double's shortest decimal representation,
    HALF_UP (away from zero). A float ``(v * 100).round()`` is wrong
    twice over — numpy rounds half-EVEN, and the multiply happens in
    binary (0.615 * 100 = 61.4999…, which no rounding mode recovers
    to 62). Per-row Python, but state-op batches are already
    Python-side."""
    import decimal as _d

    def conv(x: float) -> int:
        q = _d.Decimal(repr(float(x))).quantize(
            _d.Decimal("0.01"), rounding=_d.ROUND_HALF_UP
        )
        return int(q * 100)

    return values.map(conv).astype("int64")


def streaming_zscore_anomalies(
    df: DataFrame,
    group_col: str,
    id_col: str = "event_id",
    value_col: str = "value",
    nsigma: int = 3,
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.zscore_anomalies``: per-key
    running (n, Σcents, Σcents²) carried across micro-batches, each
    batch's rows tested against the stats AS OF the end of that batch
    with the same exact integer algebra as the batch operator —
    (n·y − Σy)² > k²·(n·Σy² − Σy·Σy). The COMPARISON runs in
    unbounded Python ints, but the carried sums serialize into the
    bigint state schema, so the per-key lifetime bound (~10^9 rows at
    cent scale before Σy² nears 2^63) matches the batch operator's —
    size eviction/timeouts accordingly.

    Early batches see fewer stats than the batch twin (online
    semantics — a replay of the full history converges to q132's
    answer); rows in a group with n < 2 are never flagged. State is
    three ints per key, evicted by the optional processing timeout.

    On a batch frame this falls back to the exact batch operator so
    one pipeline definition serves both postures."""
    if not df.isStreaming:
        from kaflow_spark.operators.events import zscore_anomalies

        return zscore_anomalies(
            df, group_col, id_col=id_col, value_col=value_col, nsigma=nsigma
        )

    out_schema = f"{id_col} bigint, {group_col} string, value_cents bigint"
    state_schema = "n bigint, sy bigint, syy bigint"
    k2 = nsigma * nsigma

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, sy, syy = state.get if state.exists else (0, 0, 0)
        batches = []
        for pdf in pdfs:
            # NULL values are dropped exactly like the batch twin.
            pdf = pdf[pdf[value_col].notna()]
            cents = _cents_half_up(pdf[value_col])
            n += len(cents)
            sy += int(cents.sum())
            syy += int((cents * cents).sum())
            batches.append(pd.DataFrame({id_col: pdf[id_col], "cents": cents, group_col: key[0]}))
        state.update((n, sy, syy))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if n < 2:
            return
        var_n2 = n * syy - sy * sy
        for b in batches:
            d = n * b["cents"].astype(object) - sy
            flag = (d * d) > (k2 * var_n2)
            hits = b[flag]
            if len(hits):
                yield pd.DataFrame(
                    {
                        id_col: hits[id_col],
                        group_col: hits[group_col],
                        "value_cents": hits["cents"],
                    }
                )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_value_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    base_date: str = "2024-01-01",
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.value_trend``: the five OLS
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are MERGEABLE integer
    sums, so per-key state is just those five ints updated per batch;
    the emitted slope after each batch equals the batch operator run
    over everything seen so far (same closed form, one IEEE division).
    Degenerate x spread emits a NULL slope.

    On a batch frame this falls back to the exact batch operator so
    one pipeline definition serves both postures."""
    if not df.isStreaming:
        from kaflow_spark.operators.events import value_trend

        return value_trend(
            df, group_col, ts_col=ts_col, value_col=value_col, base_date=base_date
        )

    import datetime as _dt

    out_schema = f"{group_col} string, n bigint, slope_cents_per_day double"
    state_schema = "n bigint, sx bigint, sy bigint, sxy bigint, sxx bigint"
    base = _dt.date.fromisoformat(base_date)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, sx, sy, sxy, sxx = state.get if state.exists else (0, 0, 0, 0, 0)
        for pdf in pdfs:
            # NULL ts/values are dropped exactly like the batch twin
            # (filter BEFORE deriving x, so x and y stay aligned).
            pdf = pdf[pdf[value_col].notna() & pdf[ts_col].notna()]
            x = (
                pd.to_datetime(pdf[ts_col]).dt.date.map(lambda d: (d - base).days)
            ).astype("int64")
            y = _cents_half_up(pdf[value_col])
            n += len(pdf)
            sx += int(x.sum())
            sy += int(y.sum())
            sxy += int((x * y).sum())
            sxx += int((x * x).sum())
        state.update((n, sx, sy, sxy, sxx))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        den = n * sxx - sx * sx
        slope = float(n * sxy - sx * sy) / float(den) if den else None
        yield pd.DataFrame(
            [{group_col: key[0], "n": n, "slope_cents_per_day": slope}]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_gapfill_locf(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of q139's hourly LOCF gap-fill: per-key state is
    the currently-open hour and its running cent sum. When a batch
    moves a key's clock past one or more hour boundaries, every closed
    hour emits — observed hours with their exact cent sum, silent
    hours repeating the last observed sum (``is_gap = true``). A key
    evicted by the processing timeout FLUSHES its open hour on the way
    out (review-caught: a bare remove() silently dropped that bar).

    Semantics note (the honest streaming restriction): a key's clock
    only advances when ITS events arrive — cross-key gap emission on
    wall-clock silence needs event-time timers (transformWithState,
    version-gated in streaming/tws.py), so a fully-quiet key emits
    nothing until its next event, at which point the interim gap
    hours backfill. Replaying a bounded history therefore converges
    to the batch q139 rows for every hour up to each key's last
    completed hour. Cents use the same HALF_UP conversion as every
    batch twin.

    Environment gate: this sandbox's PySpark build hangs on ANY
    ProcessingTimeTimeout eviction (a minimal upstream
    applyInPandasWithState timeout example hangs identically), so the
    timeout path cannot run under Structured Streaming here; the
    flush-on-timeout branch is unit-tested directly against a fake
    GroupState instead (test_streaming's fake-state test)."""
    out_schema = (
        f"{group_col} string, hour timestamp, filled_cents bigint, is_gap boolean"
    )
    state_schema = "open_hour long, open_cents bigint"

    update = _gapfill_update(group_col, ts_col, value_col, timeout_ms)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _gapfill_update(group_col, ts_col, value_col, timeout_ms):
    """The stateful kernel of :func:`streaming_gapfill_locf`, exposed
    module-level so the timeout branch is testable against a fake
    GroupState (the sandbox's PySpark hangs on real
    ProcessingTimeTimeout eviction — see the operator docstring)."""
    HOUR = 3600

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            open_hour, open_cents = state.get if state.exists else (None, 0)
            state.remove()
            if open_hour is not None:
                # flush the accumulated open bar before eviction — a
                # bare remove() would lose it, and a later event for
                # this key would restart past the gap
                yield pd.DataFrame(
                    {
                        group_col: [key[0]],
                        "hour": [pd.Timestamp(int(open_hour), unit="s")],
                        "filled_cents": [int(open_cents)],
                        "is_gap": [False],
                    }
                )
            return
        open_hour, open_cents = state.get if state.exists else (None, 0)
        events = []
        for pdf in pdfs:
            pdf = pdf[pdf[value_col].notna() & pdf[ts_col].notna()]
            if not len(pdf):
                continue
            hrs = (
                pd.to_datetime(pdf[ts_col]).astype("int64") // 1_000_000_000
            ) // HOUR * HOUR
            cents = _cents_half_up(pdf[value_col])
            events.append(pd.DataFrame({"h": hrs, "c": cents}))
        out = []
        if events:
            ev = pd.concat(events).groupby("h", sort=True)["c"].sum()
            for h, c in ev.items():
                h = int(h)
                if open_hour is None:
                    open_hour, open_cents = h, int(c)
                    continue
                if h == open_hour:
                    open_cents += int(c)
                    continue
                if h < open_hour:
                    # later batch delivered an hour older than the open
                    # one — already closed, watermark-dropped (the same
                    # contract a withWatermark aggregate applies)
                    continue
                # close every hour strictly before h
                out.append((open_hour, open_cents, False))
                for gap in range(open_hour + HOUR, h, HOUR):
                    out.append((gap, open_cents, True))
                open_hour, open_cents = h, int(c)
        state.update((open_hour, open_cents))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    group_col: key[0],
                    "hour": [pd.Timestamp(h, unit="s") for h, _, _ in out],
                    "filled_cents": [c for _, c, _ in out],
                    "is_gap": [g for _, _, g in out],
                }
            )

    return update


def _scd2_update(user_col, type_col, ts_col, id_col, timeout_ms):
    """Stateful kernel of :func:`streaming_scd2` — module-level for
    fake-GroupState testing (same ProcessingTimeTimeout sandbox gate
    as the gap-fill kernel)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            cur = state.get if state.exists else None
            state.remove()
            if cur is not None:
                # flush the open run as CURRENT (valid_to null)
                yield pd.DataFrame(
                    {
                        user_col: [key[0]],
                        type_col: [cur[0]],
                        "valid_from": [pd.Timestamp(cur[1], unit="us")],
                        "valid_to": [pd.NaT],
                        "n_events": [int(cur[2])],
                    }
                )
            return
        cur = state.get if state.exists else None  # (type, from_us, n)
        rows = []
        for pdf in pdfs:
            pdf = pdf[pdf[ts_col].notna() & pdf[type_col].notna()]
            if len(pdf):
                rows.append(pdf[[ts_col, id_col, type_col]])
        out = []
        if rows:
            ev = pd.concat(rows).sort_values([ts_col, id_col])
            for _, r in ev.iterrows():
                t = r[type_col]
                us = int(pd.Timestamp(r[ts_col]).value // 1000)
                if cur is None:
                    cur = (t, us, 0)
                if t != cur[0]:
                    # close the run at the new run's start
                    out.append((cur[0], cur[1], us, cur[2]))
                    cur = (t, us, 1)
                else:
                    cur = (cur[0], cur[1], cur[2] + 1)
        if cur is not None:
            state.update(tuple(cur))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    user_col: key[0],
                    type_col: [t for t, _, _, _ in out],
                    "valid_from": [pd.Timestamp(f, unit="us") for _, f, _, _ in out],
                    "valid_to": [pd.Timestamp(e, unit="us") for _, _, e, _ in out],
                    "n_events": [int(n) for _, _, _, n in out],
                }
            )

    return update


def streaming_scd2(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.scd2_intervals`` — the
    CDC-style history builder: per-key state carries the OPEN run
    (type, valid_from, n); an attribute change closes the run and
    emits its [valid_from, valid_to) interval; the open run stays in
    state until closed (or flushed as current on timeout eviction).
    Closed intervals match the batch operator's rows exactly for
    in-order input; the batch posture falls back to the exact batch
    operator so one definition serves both."""
    if not df.isStreaming:
        from kaflow_spark.operators.events import scd2_intervals

        return scd2_intervals(
            df, user_col, type_col, ts_col=ts_col, id_col=id_col
        )

    out_schema = (
        f"{user_col} bigint, {type_col} string, valid_from timestamp, "
        "valid_to timestamp, n_events bigint"
    )
    state_schema = "cur_type string, from_us long, n bigint"
    update = _scd2_update(user_col, type_col, ts_col, id_col, timeout_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _cusum_update(group_col, order_col, value_col, pct, timeout_ms,
                  horizon=None):
    """Kernel for :func:`streaming_cusum`, split out so tests can
    drive it with a fake GroupState (the sandbox timeout-eviction
    gotcha — see test_streaming's kernel tests)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            orders, values = state.get
            acc = dict(zip(orders, values))
        else:
            acc = {}
        for pdf in pdfs:
            pdf = pdf[pdf[value_col].notna()]
            for o, v in zip(pdf[order_col], pdf[value_col]):
                # same period arriving across batches accumulates —
                # the upstream per-period aggregation is distributive
                acc[int(o)] = acc.get(int(o), 0) + int(v)
        if horizon is not None and acc:
            # retention: evict periods that fell out of the trailing
            # window — state stays bounded for always-on monitors,
            # and the statistic becomes WINDOWED CUSUM over the
            # retained periods (see streaming_cusum's docstring)
            mx = max(acc)
            acc = {o: v for o, v in acc.items() if o > mx - horizon}
        items = sorted(acc.items())
        state.update(([o for o, _ in items], [v for _, v in items]))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if not items:
            return
        # exact integer CUSUM over the closed prefix seen so far —
        # identical algebra to operators.events.cusum_shifts, in
        # unbounded Python ints (dev = x*N - T needs no mean division)
        n = len(items)
        t = sum(v for _, v in items)
        s = 0
        min_s = 0  # running extrema INCLUDE the virtual empty prefix
        max_s = 0
        out_o, out_v, out_p, out_ng, out_f = [], [], [], [], []
        for o, v in items:
            s += v * n - t
            min_s = min(min_s, s)
            max_s = max(max_s, s)
            pos = s - min_s
            neg = max_s - s
            out_o.append(o)
            out_v.append(v)
            out_p.append(pos)
            out_ng.append(neg)
            out_f.append(pos * 100 > t * n * pct or neg * 100 > t * n * pct)
        yield pd.DataFrame(
            {
                group_col: key[0],
                order_col: out_o,
                value_col: out_v,
                "cusum_pos": out_p,
                "cusum_neg": out_ng,
                "shift_flag": out_f,
            }
        )

    return update


def streaming_cusum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    pct: int = 10,
    *,
    timeout_ms: int | None = None,
    horizon: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.cusum_shifts`` (q179's
    level-shift detector). CUSUM deviations are relative to the
    series' OWN mean (``dev = x*N - T``), so every arriving period
    changes N and T and with them every earlier row's cusum — the
    kernel therefore carries the full accumulated (order, value)
    series per group in state (bounded by the operator's input
    contract: the PRE-AGGREGATED per-(group, period) table, e.g.
    event-type x day — days per group, never raw rows) and re-emits
    the exact recomputed series each update. In update output mode
    the LATEST emission per (group, order) is the current answer;
    once the stream is closed it equals the batch operator on the
    same data row-for-row (asserted in test_streaming).

    ``order_col`` and ``value_col`` must be integers (cast dates to
    epoch days upstream — the state schema is array<bigint>); partial
    sums for one period arriving in different batches accumulate,
    matching the distributive upstream aggregation.

    ``horizon`` bounds state for ALWAYS-ON monitors: with it, each
    update evicts (group, period) entries whose order fell more than
    ``horizon`` behind the group's newest period, so state is at most
    ``horizon`` rows per group forever instead of growing with the
    period count. The statistic is then WINDOWED CUSUM — deviations
    relative to the trailing window's own mean, the standard drift-
    monitor posture — and the closed stream equals the batch operator
    applied to each group's trailing-``horizon`` periods (asserted in
    test_streaming). Late data older than the evicted boundary
    re-enters as a fresh (partial) period and would perturb the
    window; pair with a watermark upstream that drops such arrivals.
    Without ``horizon`` (the default) the statistic is full-series
    CUSUM and state grows with the period horizon.

    On a batch frame this falls back to the exact batch operator so
    one pipeline definition serves both postures."""
    if not df.isStreaming:
        from pyspark.sql.window import Window

        from kaflow_spark.operators.events import cusum_shifts

        if horizon is not None:
            mx = F.max(order_col).over(Window.partitionBy(group_col))
            df = (
                df.withColumn("_mx", mx)
                .filter(F.col(order_col) > F.col("_mx") - horizon)
                .drop("_mx")
            )
        return cusum_shifts(df, group_col, order_col, value_col, pct=pct)

    out_schema = (
        f"{group_col} string, {order_col} bigint, {value_col} bigint, "
        "cusum_pos bigint, cusum_neg bigint, shift_flag boolean"
    )
    state_schema = "orders array<bigint>, vals array<bigint>"
    update = _cusum_update(
        group_col, order_col, value_col, pct, timeout_ms, horizon
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _spike_update(group_col, order_col, value_col, threshold_tenths,
                  min_baseline, timeout_ms):
    """Kernel for :func:`streaming_spike` (fake-GroupState-testable,
    the test_streaming idiom)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            orders, values = state.get
            acc = dict(zip(orders, values))
        else:
            acc = {}
        for pdf in pdfs:
            pdf = pdf[pdf[value_col].notna()]
            for o, v in zip(pdf[order_col], pdf[value_col]):
                acc[int(o)] = acc.get(int(o), 0) + int(v)
        mx = max(acc) if acc else 0
        if acc:
            # bounded by construction, no horizon knob: emissions only
            # ever cover the trailing 8 periods, and the OLDEST of
            # those needs baseline days up to 7 further back — retain
            # 15. (Retaining just 8 corrupted mid-batch baselines: a
            # batch carrying days d..d+2 evicted day d's baseline
            # before computing it — measured vs the batch operator.)
            acc = {o: v for o, v in acc.items() if o > mx - 15}
        items = sorted(acc.items())
        state.update(([o for o, _ in items], [v for _, v in items]))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        out_o, out_v, out_m, out_r, out_f = [], [], [], [], []
        for o, v in items:
            if o <= mx - 8:
                # full baseline no longer guaranteed retained; the
                # row was emitted (correctly) while fresh
                continue
            base = sorted(
                bv for bo, bv in items if o - 7 <= bo <= o - 1
            )
            n = len(base)
            if n < min_baseline:
                continue
            med = base[(n + 1) // 2 - 1]
            if med <= 0:
                continue
            out_o.append(o)
            out_v.append(v)
            out_m.append(med)
            # truncate-toward-zero division, matching the batch
            # operator's Spark `div` and the oracle's DuckDB integer
            # `//` on NEGATIVE day values (Python's // floors — off by
            # one there; med > 0 is guaranteed by the guard above)
            num = v * 10000
            out_r.append(-((-num) // med) if num < 0 else num // med)
            out_f.append(v * 10 > med * threshold_tenths)
        if not out_o:
            return
        yield pd.DataFrame(
            {
                group_col: key[0],
                order_col: out_o,
                value_col: out_v,
                "baseline_med": out_m,
                "ratio_bp": out_r,
                "spike": out_f,
            }
        )

    return update


def streaming_spike(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    *,
    threshold_tenths: int = 13,
    min_baseline: int = 3,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.spike_days`` (q200's
    burst detector): each arriving per-(group, period) bar is scored
    against the LOWER median of the trailing 7 observed periods
    EXCLUDING itself. Unlike CUSUM the statistic is intrinsically
    windowed, so state is bounded by construction with no horizon
    knob: 15 trailing periods per group (the 8 emittable ones plus
    the 7 further back their baselines reach — retaining only 8
    measurably corrupted mid-batch baselines); late partials for a
    retained period accumulate and the affected rows re-emit
    (update mode: latest emission per (group, period) wins).
    Integer throughout: ratio in basis points, the threshold
    cross-multiplied (``value*10 > med*threshold_tenths``). On a
    closed in-order stream the final emissions equal the batch
    operator row-for-row (asserted in test_streaming). Batch frames
    fall back to the exact batch operator."""
    if not df.isStreaming:
        from kaflow_spark.operators.events import spike_days

        return spike_days(
            df, group_col, order_col, value_col,
            threshold_tenths=threshold_tenths, min_baseline=min_baseline,
        )
    out_schema = (
        f"{group_col} string, {order_col} bigint, {value_col} bigint, "
        "baseline_med bigint, ratio_bp bigint, spike boolean"
    )
    state_schema = "orders array<bigint>, vals array<bigint>"
    update = _spike_update(
        group_col, order_col, value_col, threshold_tenths, min_baseline,
        timeout_ms,
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _activity_update(group_col, day_col, user_col, mode, span,
                     emit_horizon, timeout_ms):
    """Shared kernel for :func:`streaming_wau` (``mode='wau'``,
    ``span`` = window), :func:`streaming_returning_rate`
    (``mode='returning'``, ``span`` = past horizon) and
    :func:`streaming_stickiness` (``mode='stickiness'``, ``span`` =
    the MAU window). State is the set of distinct (user, day)
    activity pairs, stored as two parallel arrays and bounded BY
    CONSTRUCTION at ``emit_horizon + span`` trailing days per group:
    the emittable days are the trailing ``emit_horizon``, and the
    oldest of those looks back ``span`` further (window - 1 for
    WAU/stickiness, the full past horizon for the returning rate) —
    the per-(type, user) last-seen design with eviction past the
    horizon. Fake-GroupState-testable (the test_streaming idiom)."""

    lookback = span - 1 if mode in ("wau", "stickiness") else span

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            users, days = state.get
            pairs = set(zip(users, days))
        else:
            pairs = set()
        for pdf in pdfs:
            pdf = pdf[pdf[user_col].notna() & pdf[day_col].notna()]
            for u, d in zip(pdf[user_col], pdf[day_col]):
                pairs.add((int(u), int(d)))
        if not pairs:
            return
        mx = max(d for _, d in pairs)
        # eviction: nothing older than the oldest emittable day's
        # look-back can ever influence an emission again
        pairs = {(u, d) for u, d in pairs if d > mx - (emit_horizon + lookback)}
        items = sorted(pairs)
        state.update(
            ([u for u, _ in items], [d for _, d in items])
        )
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        observed = sorted({d for _, d in pairs if d > mx - emit_horizon})
        if mode == "wau":
            out_d, out_w = [], []
            for d in observed:
                out_d.append(d)
                out_w.append(
                    len({u for u, dd in pairs if d - lookback <= dd <= d})
                )
            yield pd.DataFrame(
                {group_col: key[0], day_col: out_d, "wau": out_w}
            )
        elif mode == "stickiness":
            out_d, out_dau, out_mau, out_bp = [], [], [], []
            for d in observed:
                dau = len({u for u, dd in pairs if dd == d})
                mau = len(
                    {u for u, dd in pairs if d - lookback <= dd <= d}
                )
                out_d.append(d)
                out_dau.append(dau)
                out_mau.append(mau)
                # mau >= dau >= 1 on observed days: no guard needed
                out_bp.append(dau * 10000 // mau)
            yield pd.DataFrame(
                {
                    group_col: key[0],
                    day_col: out_d,
                    "dau": out_dau,
                    "mau": out_mau,
                    "stickiness_bp": out_bp,
                }
            )
        else:
            out_d, out_act, out_r, out_bp = [], [], [], []
            for d in observed:
                active = {u for u, dd in pairs if dd == d}
                returning = {
                    u
                    for u, dd in pairs
                    if u in active and d - lookback <= dd <= d - 1
                }
                out_d.append(d)
                out_act.append(len(active))
                out_r.append(len(returning))
                # both operands non-negative: Python // == div here
                out_bp.append(len(returning) * 10000 // len(active))
            yield pd.DataFrame(
                {
                    group_col: key[0],
                    day_col: out_d,
                    "n_active": out_act,
                    "n_returning": out_r,
                    "returning_bp": out_bp,
                }
            )

    return update


def streaming_wau(
    df: DataFrame,
    group_col: str,
    day_col: str,
    user_col: str,
    *,
    window: int = 7,
    emit_horizon: int = 8,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.rolling_wau`` (q203's
    kernel): the live rolling ``window``-day distinct-active-users
    KPI. State per group is the distinct (user, day) activity set of
    the trailing ``emit_horizon + window - 1`` days — bounded by
    construction, evicted past the horizon; each micro-batch re-emits
    the trailing ``emit_horizon`` OBSERVED days so late partials for
    a retained day correct it (update mode: latest emission per
    (group, day) wins; older days were emitted correctly while
    fresh). Late/out-of-order contract (round-11 tests): a pair whose
    day is still retained is absorbed — its day AND every retained
    day whose look-back covers it re-emit corrected; a pair older
    than the retention boundary is DROPPED (no state growth, no
    emission, newer rows unperturbed) — bound how late that can be
    with an upstream watermark. On a closed in-order stream the final
    emissions equal the batch operator row-for-row (asserted in
    test_streaming). Input rows need not be pre-deduplicated — the
    state set dedupes. Batch frames fall back to the exact batch
    operator."""
    from kaflow_spark.operators.events import rolling_wau

    if not df.isStreaming:
        return rolling_wau(
            df.select(group_col, day_col, user_col).distinct(),
            group_col, day_col, user_col, window=window,
        )
    out_schema = f"{group_col} string, {day_col} bigint, wau bigint"
    state_schema = "users array<bigint>, days array<bigint>"
    update = _activity_update(
        group_col, day_col, user_col, "wau", window, emit_horizon,
        timeout_ms,
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_returning_rate(
    df: DataFrame,
    group_col: str,
    day_col: str,
    user_col: str,
    *,
    past: int = 28,
    emit_horizon: int = 8,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.returning_rate`` (q207's
    kernel): the live daily retention KPI — of the users active on
    day d, the share also seen in the prior ``past`` days. Same
    bounded-state design as :func:`streaming_wau` with the look-back
    extended to the full ``past`` horizon (state:
    ``emit_horizon + past`` trailing days of distinct (user, day)
    pairs per group). Closed in-order stream == batch operator
    row-for-row (asserted); integer basis points (both operands
    non-negative, so Python ``//`` matches Spark ``div``). Same
    late-arrival contract as :func:`streaming_wau`: retained days
    absorb late pairs and re-emit corrected (including newer days
    whose look-back they feed — asserted out-of-order in
    test_streaming), older-than-retention pairs are dropped. Batch
    frames fall back to the exact batch operator."""
    from kaflow_spark.operators.events import returning_rate

    if not df.isStreaming:
        return returning_rate(
            df.select(group_col, day_col, user_col).distinct(),
            group_col, day_col, user_col, past=past,
        )
    out_schema = (
        f"{group_col} string, {day_col} bigint, n_active bigint, "
        "n_returning bigint, returning_bp bigint"
    )
    state_schema = "users array<bigint>, days array<bigint>"
    update = _activity_update(
        group_col, day_col, user_col, "returning", past, emit_horizon,
        timeout_ms,
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _growth_update(group_col, day_col, user_col, emit_horizon, timeout_ms):
    """Kernel for :func:`streaming_growth` (fake-GroupState-testable).
    State per group: each known user's FIRST-SEEN day (the
    statistic's intrinsic floor — 'new vs resurrected' is
    unanswerable without it, exactly as streaming SCD2 keeps per-key
    current rows) plus the distinct (user, day) activity of the
    trailing ``emit_horizon + 1`` days (the +1 is yesterday's
    presence for retained/churned) — the recency component is
    horizon-bounded by construction."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            fu, fd, ru, rd = state.get
            firsts = dict(zip(fu, fd))
            recent = set(zip(ru, rd))
        else:
            firsts, recent = {}, set()
        for pdf in pdfs:
            pdf = pdf[pdf[user_col].notna() & pdf[day_col].notna()]
            for u, d in zip(pdf[user_col], pdf[day_col]):
                u, d = int(u), int(d)
                if u not in firsts or d < firsts[u]:
                    firsts[u] = d
                recent.add((u, d))
        if not recent:
            return
        mx = max(d for _, d in recent)
        recent = {(u, d) for u, d in recent if d > mx - (emit_horizon + 1)}
        fi = sorted(firsts.items())
        ri = sorted(recent)
        state.update(
            (
                [u for u, _ in fi],
                [d for _, d in fi],
                [u for u, _ in ri],
                [d for _, d in ri],
            )
        )
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        by_day: dict[int, set[int]] = {}
        for u, d in recent:
            by_day.setdefault(d, set()).add(u)
        out = {
            k: []
            for k in (
                day_col, "n_active", "n_new", "n_retained",
                "n_resurrected", "n_churned",
            )
        }
        for d in sorted(by_day):
            if d <= mx - emit_horizon:
                continue
            active = by_day[d]
            prev = by_day.get(d - 1, set())
            out[day_col].append(d)
            out["n_active"].append(len(active))
            out["n_new"].append(
                sum(1 for u in active if firsts[u] == d)
            )
            out["n_retained"].append(len(active & prev))
            out["n_resurrected"].append(
                sum(1 for u in active if u not in prev and firsts[u] < d)
            )
            out["n_churned"].append(len(prev - active))
        if not out[day_col]:
            return
        yield pd.DataFrame({group_col: key[0], **out})

    return update


def streaming_growth(
    df: DataFrame,
    group_col: str,
    day_col: str,
    user_col: str,
    *,
    emit_horizon: int = 8,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.events.growth_accounting``
    (q209's kernel): the live new/retained/resurrected/churned DAU
    decomposition. State per group = each user's first-seen day (the
    statistic's intrinsic floor, O(distinct users) — same class as
    streaming SCD2's per-key state) + the horizon-bounded recent
    (user, day) set; each micro-batch re-emits the trailing
    ``emit_horizon`` observed days so late partials correct them
    (update mode, latest wins). On a closed in-order stream the final
    emissions equal the batch operator row-for-row (asserted), and
    the identity n_new + n_retained + n_resurrected = n_active holds
    on every emitted row by construction. Late-arrival contract
    (round-11 tests): a too-late pair contributes nothing to the
    recency component (dropped like the other twins) but STILL seeds
    the first-seen floor — one cheap entry — so the user's eventual
    return classifies as resurrected, not new. Batch frames fall
    back to the exact batch operator."""
    from kaflow_spark.operators.events import growth_accounting

    if not df.isStreaming:
        return growth_accounting(
            df.select(group_col, day_col, user_col).distinct(),
            group_col, day_col, user_col,
        )
    out_schema = (
        f"{group_col} string, {day_col} bigint, n_active bigint, "
        "n_new bigint, n_retained bigint, n_resurrected bigint, "
        "n_churned bigint"
    )
    state_schema = (
        "fu array<bigint>, fd array<bigint>, "
        "ru array<bigint>, rd array<bigint>"
    )
    update = _growth_update(
        group_col, day_col, user_col, emit_horizon, timeout_ms
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_stickiness(
    df: DataFrame,
    group_col: str,
    day_col: str,
    user_col: str,
    *,
    window: int = 28,
    emit_horizon: int = 8,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of q210's DAU/MAU stickiness: per observed
    (group, day), distinct users that day, distinct users in the
    trailing ``window`` days, and their ratio in integer basis
    points. Same bounded-state design as :func:`streaming_wau`
    (state: ``emit_horizon + window - 1`` trailing days of distinct
    (user, day) pairs per group), same late-arrival contract
    (retained days absorb and re-emit corrected; older-than-retention
    pairs dropped — asserted in test_streaming). Closed in-order
    stream == the batch q210 kernel row-for-row (asserted). Batch
    frames fall back to the exact batch computation."""
    if not df.isStreaming:
        act = df.select(group_col, day_col, user_col).distinct()
        contrib = act.select(
            group_col,
            user_col,
            day_col,
            F.explode(F.expr(f"sequence(0, {window - 1})")).alias("_off"),
        ).select(
            group_col,
            user_col,
            (F.col(day_col) + F.col("_off")).alias(day_col),
            (F.col("_off") == 0).alias("_here"),
        )
        pu = contrib.groupBy(group_col, day_col, user_col).agg(
            F.max("_here").alias("_here")
        )
        g = pu.groupBy(group_col, day_col).agg(
            F.count(F.lit(1)).alias("mau"),
            F.sum(F.col("_here").cast("long")).alias("dau"),
            F.max("_here").alias("_observed"),
        )
        return g.filter("_observed").select(
            group_col,
            day_col,
            "dau",
            "mau",
            F.expr("dau * 10000 div mau").alias("stickiness_bp"),
        )
    out_schema = (
        f"{group_col} string, {day_col} bigint, dau bigint, mau bigint, "
        "stickiness_bp bigint"
    )
    state_schema = "users array<bigint>, days array<bigint>"
    update = _activity_update(
        group_col, day_col, user_col, "stickiness", window, emit_horizon,
        timeout_ms,
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _exposure_update(cust_col, day_col, key_col, price_col, start_col,
                     horizon, timeout_ms):
    """Kernel for :func:`streaming_exposure`, split out so tests can
    drive it with a fake GroupState (the sandbox timeout-eviction
    gotcha). State per customer:

    ``(start, n_base, sum_base, min_base, od_base, days, keys, prices)``

    where the *base* fields summarize the trajectory of orders that
    fell behind the replay horizon (count, debit sum, running-balance
    minimum, first-overdraft day — -1 encodes "none"; min_base is
    MAXINT-encoded "none" while no order has been folded), and the
    arrays retain the trailing-horizon orders verbatim so a LATE order
    landing inside the horizon replays the trajectory EXACTLY —
    running-minimum and first-overdraft are order-sensitive, which is
    why this kernel cannot get away with the distributive-partial
    trick the CUSUM twin uses."""
    _NONE_MIN = 1 << 62

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            (start, n_base, sum_base, min_base, od_base,
             days, keys, prices) = state.get
            retained = list(zip(days, keys, prices))
        else:
            start = None
            n_base, sum_base, min_base, od_base = 0, 0, _NONE_MIN, -1
            retained = []
        seen_keys = {k for _, k, _ in retained}
        # the base boundary: orders at or before it are already folded
        # and can never be replayed — late arrivals behind it DROP
        hw = max((d for d, _, _ in retained), default=None)
        cutoff_old = None if hw is None else hw - horizon
        new_rows = []
        for pdf in pdfs:
            # the stream-static join contract is that every row carries
            # the opening balance; rows violating it (null start) are
            # dropped WITH their price rather than crashing the kernel
            # or folding into a None-start balance (ADVICE r13)
            pdf = pdf[pdf[price_col].notna() & pdf[start_col].notna()]
            if start is None and len(pdf):
                start = int(pdf[start_col].iloc[0])
            for d, k, p in zip(pdf[day_col], pdf[key_col], pdf[price_col]):
                d, k, p = int(d), int(k), int(p)
                if cutoff_old is not None and d <= cutoff_old:
                    continue  # older than the replay horizon: dropped
                if k in seen_keys:
                    continue  # duplicate delivery of a retained order
                seen_keys.add(k)
                new_rows.append((d, k, p))
        merged = sorted(retained + new_rows)
        if not merged and not state.exists:
            return
        # advance the base: everything behind the NEW high water's
        # horizon folds into the exact running summary, in order
        hw = max((d for d, _, _ in merged), default=hw)
        cutoff = hw - horizon if hw is not None else None
        keep = []
        for d, k, p in merged:
            if cutoff is not None and d <= cutoff:
                n_base += 1
                sum_base += p
                bal = start - sum_base
                min_base = min(min_base, bal)
                if od_base < 0 and bal < 0:
                    od_base = d
            else:
                keep.append((d, k, p))
        state.update((
            start, n_base, sum_base, min_base, od_base,
            [d for d, _, _ in keep],
            [k for _, k, _ in keep],
            [p for _, _, p in keep],
        ))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        # replay the retained tail off the base summary — exact
        n = n_base
        s = sum_base
        mn = min_base
        od = od_base
        for d, _, p in keep:
            n += 1
            s += p
            bal = start - s
            mn = min(mn, bal)
            if od < 0 and bal < 0:
                od = d
        if n == 0:
            return  # no orders yet: the batch query has no row either
        yield pd.DataFrame(
            {
                cust_col: [key[0]],
                "n_orders": [n],
                "final_balance_cents": [start - s],
                "min_balance_cents": [mn],
                "first_overdraft_day": pd.array(
                    [od if od >= 0 else None], dtype="Int64"
                ),
            }
        )

    return update


def streaming_exposure(
    df: DataFrame,
    cust_col: str,
    day_col: str,
    key_col: str,
    price_col: str,
    start_col: str,
    *,
    horizon: int = 35,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of q242's credit-exposure replay (queries/
    risk.py): per customer, the opening balance is debited by every
    order in (day, order-key) order, and each update emits the
    current ``(n_orders, final_balance_cents, min_balance_cents,
    first_overdraft_day)`` row — the canonical RUNNING-BALANCE
    stateful shape the twin family lacked (round-12 verdict task 5).

    Input rows must carry the customer's opening balance
    (``start_col`` — a stream-static broadcast join against the
    customer dim upstream) and integer day/price units (cast dates to
    epoch days, money to cents). Output in update mode; the LATEST
    emission per customer is the current answer, and on a closed
    in-order stream it equals the batch q242 aggregates row-for-row
    (asserted in test_streaming_exposure).

    Late/out-of-order contract: the running MINIMUM and the first-
    overdraft day are order-sensitive — a late debit rewrites the
    trajectory after it — so state retains the trailing ``horizon``
    days of orders verbatim (bounded: a customer's orders within the
    horizon) plus an exact O(1) summary of everything older. A late
    order landing inside the horizon is absorbed EXACTLY (the tail
    replays); one landing behind it is DROPPED (no state growth, no
    emission change) — bound how late that can be with an upstream
    watermark. Duplicate deliveries of a retained order key are
    ignored (exactly-once per key within the horizon).

    On a batch frame this falls back to the exact one-window batch
    formulation (q242's plan: one shuffle shared by window and
    aggregate), so one pipeline definition serves both postures."""
    if not df.isStreaming:
        from pyspark.sql.window import Window

        w = Window.partitionBy(cust_col).orderBy(day_col, key_col)
        r = df.select(
            cust_col,
            day_col,
            F.col(start_col).alias("_start"),
            F.col(price_col).alias("_price"),
            (F.col(start_col) - F.sum(price_col).over(w)).alias("_bal"),
        )
        return r.groupBy(cust_col).agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("_start") - F.sum("_price")).alias("final_balance_cents"),
            F.min("_bal").alias("min_balance_cents"),
            F.min(
                F.when(F.col("_bal") < 0, F.col(day_col))
            ).alias("first_overdraft_day"),
        )

    out_schema = (
        f"{cust_col} bigint, n_orders bigint, final_balance_cents bigint, "
        "min_balance_cents bigint, first_overdraft_day bigint"
    )
    state_schema = (
        "start bigint, n_base bigint, sum_base bigint, min_base bigint, "
        "od_base bigint, days array<bigint>, keys array<bigint>, "
        "prices array<bigint>"
    )
    update = _exposure_update(
        cust_col, day_col, key_col, price_col, start_col, horizon,
        timeout_ms,
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(cust_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _weighted_sample_update(group_col, id_col, weight_col, k, salt,
                            timeout_ms):
    """Kernel for :func:`streaming_weighted_sample`. State per group is
    the current reservoir — at most ``k`` (priority_key, id, weight)
    triples — merged with each batch's candidates and re-truncated to
    the k smallest by (key, id). Priorities replicate the batch
    operator bit-for-bit: u = the first 15 hex digits of
    md5(salt || str(id)) as an integer, key = u / weight (one IEEE
    double division — Python, the JVM and DuckDB all round it
    identically on identical integer inputs)."""
    import hashlib

    def _key(i: int, w: int) -> float:
        u = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:15], 16)
        return u / float(w)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            keys, ids, weights = state.get
            pool = {int(i): (float(kk), int(w)) for kk, i, w in
                    zip(keys, ids, weights)}
        else:
            pool = {}
        for pdf in pdfs:
            pdf = pdf[pdf[weight_col].notna()]
            for i, w in zip(pdf[id_col], pdf[weight_col]):
                i, w = int(i), int(w)
                if w <= 0 or i in pool:
                    continue  # weightless rows carry no mass; id dedupe
                pool[i] = (_key(i, w), w)
        best = sorted(
            ((kk, i, w) for i, (kk, w) in pool.items()),
        )[:k]
        state.update((
            [kk for kk, _, _ in best],
            [i for _, i, _ in best],
            [w for _, _, w in best],
        ))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if not best:
            return
        yield pd.DataFrame(
            {
                group_col: key[0],
                id_col: [i for _, i, _ in best],
                "weight": [w for _, _, w in best],
            }
        )

    return update


def streaming_weighted_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of
    ``operators.curation.weighted_priority_sample_k`` (q257's
    exactly-k weighted WOR draw): the classic weighted RESERVOIR —
    state per group is just the k smallest priority keys seen so far
    (priority sampling's u/w key, recomputed bit-identically in the
    kernel), merged and re-truncated per batch. Emits the current
    reservoir per update; the latest emission per group is the
    current sample.

    The best-behaved twin in the family: the min-k of a set is
    ORDER-INSENSITIVE, so a closed stream equals the batch operator
    regardless of arrival order — late data is just data; no horizon,
    no retention contract, state bounded at k rows per group FOREVER
    (asserted in tests). Duplicate deliveries of an id are ignored —
    which means weights must be IMMUTABLE per id: the first weight
    seen freezes that id's priority key, so a stream that re-delivers
    an id with a *corrected* weight converges to a different
    reservoir than a batch run over the final data (the equivalence
    contract is exactly-once semantics per (id, weight) fact, the
    same contract the exposure twin states for order keys — ADVICE
    r13). Weight corrections need a keyed upsert upstream, not this
    twin. On a batch frame this falls back to the exact batch
    operator."""
    if not df.isStreaming:
        from kaflow_spark.operators.curation import (
            weighted_priority_sample_k,
        )

        return weighted_priority_sample_k(
            df, group_col, id_col, weight_col, k, salt=salt
        ).select(
            group_col,
            id_col,
            F.col(weight_col).cast("bigint").alias("weight"),
        )

    out_schema = f"{group_col} string, {id_col} bigint, weight bigint"
    state_schema = (
        "keys array<double>, ids array<bigint>, weights array<bigint>"
    )
    update = _weighted_sample_update(
        group_col, id_col, weight_col, k, salt, timeout_ms
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(group_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _diversity_update(day_col, type_col, count_col, timeout_ms):
    """Kernel for :func:`streaming_diversity`. State per day is the
    per-type count map (two parallel arrays — bounded at |types|);
    same-period partials arriving across batches ACCUMULATE (the
    upstream per-(day, type) aggregation is distributive), so late
    data is just data and the closed stream equals the batch q260
    operator under any arrival order."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            types, counts = state.get
            acc = dict(zip(types, counts))
        else:
            acc = {}
        for pdf in pdfs:
            pdf = pdf[pdf[count_col].notna()]
            for t, c in zip(pdf[type_col], pdf[count_col]):
                acc[str(t)] = acc.get(str(t), 0) + int(c)
        if not acc:
            return
        state.update((list(acc.keys()), list(acc.values())))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        n = sum(acc.values())
        sumsq = sum(c * c for c in acc.values())
        # non-negative ints: Python // == Spark div == DuckDB //
        yield pd.DataFrame(
            {
                day_col: [key[0]],
                "n_events": [n],
                "n_types": [len(acc)],
                "effective_types_micro": [n * n * 1_000_000 // sumsq],
            }
        )

    return update


def streaming_diversity(
    df: DataFrame,
    day_col: str,
    type_col: str,
    count_col: str,
    *,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of q260's effective-type diversity (inverse
    Simpson N²/Σc² in exact integer micro-units): the live 'how many
    equally-active types is today really spread across' monitor.
    Input contract is the PRE-AGGREGATED per-(day, type) partial
    count table (the streaming_cusum contract — the upstream
    aggregation is distributive, so micro-batch partials for one
    (day, type) cell simply accumulate in state). State per day is
    the per-type count map (bounded at |types| entries); because the
    statistic is a pure function of accumulated counts, late and
    out-of-order data need NO horizon or retention contract — every
    update re-emits the day's exact current value and the closed
    stream equals the batch operator under any arrival order
    (asserted both directions in test_streaming_diversity). Inverse
    Simpson is chosen over Shannon for the same reason as the batch
    query: purely rational in the counts — exact integers end to
    end, no logs. On a batch frame this computes the exact batch
    formulation directly."""
    if not df.isStreaming:
        # merge per-(day, type) PARTIALS first — the kernel
        # accumulates them in state, and the fallback must honor the
        # same input contract (duplicate cells are partial counts,
        # not extra types)
        merged = df.groupBy(day_col, type_col).agg(
            F.sum(count_col).alias(count_col)
        )
        agg = merged.groupBy(day_col).agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(count_col).alias("n_events"),
            F.sum(
                F.expr(f"CAST({count_col} AS DECIMAL(38,0)) * {count_col}")
            ).alias("_sumsq"),
        )
        return agg.select(
            day_col,
            "n_events",
            "n_types",
            F.expr(
                "CAST(CAST(n_events AS DECIMAL(38,0)) * n_events * 1000000"
                " div _sumsq AS BIGINT)"
            ).alias("effective_types_micro"),
        )

    out_schema = (
        f"{day_col} string, n_events bigint, n_types bigint, "
        "effective_types_micro bigint"
    )
    state_schema = "types array<string>, counts array<bigint>"
    update = _diversity_update(day_col, type_col, count_col, timeout_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(day_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )
