"""Keyed sequential recurrences (scans): EMA smoothing, CUSUM drift
detection.

Window functions cover ASSOCIATIVE running aggregates (sums, counts,
min/max — running_user_spend et al.); a recurrence like EMA
(y_t = (x_t + 3*y_{t-1}) / 4) or CUSUM (s_t = max(0, s_{t-1} + x_t - k))
is non-associative, so no frame rewrite exists. This is precisely the
case the build rules reserve Python for: the per-key fold runs inside
applyInPandas (Arrow-batched, one key's ordered series at a time), which
is also the reference's own O2 shape — its keyed stateful fold
(affo/ssp node.go:57-73) IS a sequential scan; Spark expresses
the same thing with keyed Arrow batches instead of per-record channel
hops.

Scale: one hash exchange on the key, then a partition-STREAM fold
(_keyed_stream): the keyed frame is repartitioned on the key and sorted
within partitions by (key, order), and ONE mapInPandas pass walks each
partition's contiguous key runs, carrying a scalar-per-key state dict
across Arrow batch boundaries. This is deliberately NOT
groupBy().applyInPandas — that shape instantiates a pandas frame PER
KEY, and with recurrence keys numbering in the hundreds of thousands
the per-group overhead IS the wall clock (measured at the 100x fixture:
~20 s of the ema/holt/cusum rows was group instantiation over ~500k
tiny groups; the stream form folds the same rows in one pass per
partition). Same key-must-fit-a-worker cost class either way (salt or
window upstream if one key dominates). Determinism: EMA with a
power-of-two rational alpha folds the IDENTICAL float64 op sequence
both engines replay (the oracle steps the same recursion in a recursive
CTE); CUSUM is pure integer arithmetic — exact. Rows with equal
(key, order) have no defined fold order — every caller's order column
is unique per key (daily/aggregated series), the same contract the
previous per-group stable sort relied on.
"""

from __future__ import annotations

from collections.abc import Iterator

import math

import pyspark.sql.functions as F  # noqa: F401 (kept for API symmetry)
import pyspark.sql.types as T
from pyspark.sql import DataFrame


def _key_runs(karr):
    """(start, end) index pairs of the contiguous key runs in a sorted
    key array — the partition-stream fold's inner iterator."""
    import numpy as np

    n = len(karr)
    bounds = np.flatnonzero(karr[1:] != karr[:-1]) + 1
    starts = [0, *bounds.tolist()]
    ends = [*bounds.tolist(), n]
    return zip(starts, ends)


def _stream_by_key(df: DataFrame, key: str, order: str, cols: list[str]) -> DataFrame:
    """The partition-stream layout every recurrence folds over: hash
    exchange on the key, partition-local sort by (key, order) so each
    key's history is contiguous and ordered — mapInPandas then walks it
    in one pass (see module docstring for why this beats a per-key
    applyInPandas at high key cardinality)."""
    return (
        df.select(*cols)
        .repartition(F.col(key))
        .sortWithinPartitions(key, order)
    )


def keyed_ema(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
) -> DataFrame:
    """(key, step, value, ema) — exponential moving average per key over
    the ``order``-sorted series: y_1 = x_1;
    y_t = (alpha_num*x_t + (alpha_den-alpha_num)*y_{t-1}) / alpha_den.

    With alpha_den a power of two the fold is a reproducible float64
    instruction sequence — the DuckDB oracle replays it step by step in
    a recursive CTE and matches bit-for-bit (output rounded to 6dp as
    belt-and-suspenders, same convention as every float query here).
    """
    import pandas as pd

    a, b = alpha_num, alpha_den - alpha_num
    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("step", T.IntegerType()),
            T.StructField("value", T.LongType()),
            T.StructField("ema", T.DoubleType()),
        ]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # Native-Python-float loop over contiguous key runs: the state
        # update is the ONLY per-row work. Each step's a*x, b*y, +,
        # /den round, so a blocked/associative scan would change bits;
        # display rounding never feeds back into y, so it vectorizes at
        # the end (_round6_arr). State (y, step) carries across Arrow
        # batch boundaries — sorted layout means only the boundary key
        # ever spans two batches.
        state: dict = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            karr = pdf[key].to_numpy()
            xs = [float(x) for x in pdf[value].to_list()]
            ys = [0.0] * n
            steps = np.empty(n, dtype="int32")
            for i, j in _key_runs(karr):
                kk = int(karr[i])
                y, st = state.get(kk, (None, 0))
                for t in range(i, j):
                    x = xs[t]
                    y = x if y is None else (a * x + b * y) / alpha_den
                    st += 1
                    ys[t] = y
                    steps[t] = st
                state[kk] = (y, st)
            yield pd.DataFrame(
                {
                    "key": karr.astype("int64"),
                    "step": steps,
                    "value": np.asarray(pdf[value].to_numpy(), dtype="int64"),
                    "ema": _round6_arr(ys),
                }
            )

    return _stream_by_key(df, key, order, [key, order, value]).mapInPandas(
        fold, schema
    )


def _round6(y: float) -> float:
    # sign-aware HALF_UP to match DuckDB round(): Python's round() is
    # half-EVEN, and dyadic-alpha recurrence values are binary fractions,
    # so exact .5e-6 ties ARE reachable and would diverge — e.g.
    # round(0.0078125, 6)
    return math.copysign(math.floor(abs(y) * 1e6 + 0.5) / 1e6, y)


def _round6_arr(ys):
    """Vectorized _round6 over a float64 array — the SAME IEEE op
    sequence elementwise (abs, *1e6, +0.5, floor, /1e6, copysign are
    each one correctly-rounded double op in numpy exactly as in math.*),
    so results are bit-identical to the scalar helper. Display rounding
    never feeds back into any recurrence state, which is what makes it
    safe to lift out of the sequential fold: only the state updates are
    order-pinned; everything around them vectorizes."""
    import numpy as np

    ya = np.asarray(ys, dtype="float64")
    return np.copysign(np.floor(np.abs(ya) * 1e6 + 0.5) / 1e6, ya)


def keyed_holt(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
) -> DataFrame:
    """(key, step, value, level, trend, forecast) — Holt's linear
    (double-exponential) smoothing per key over the ``order``-sorted
    series, alpha = 1/2, beta = 1/4 (dyadic, so the fold is a
    reproducible float64 instruction sequence):

        l_1 = x_1,  b_1 = 0
        l_t = (x_t + (l_{t-1} + b_{t-1})) / 2
        b_t = ((l_t - l_{t-1}) + 3 * b_{t-1}) / 4
        forecast_t = l_t + b_t   (the one-step-ahead prediction)

    The two-state recurrence EMA cannot express (trend feeds back into
    level); the DuckDB oracle replays the identical op sequence step by
    step in a recursive CTE carrying (l, b) unrounded — output rounds at
    6dp with the same sign-aware HALF_UP as keyed_ema. Same scale shape
    as every recurrence here: one hash exchange on the key, then an
    Arrow-batched per-key fold with two scalars of state."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("step", T.IntegerType()),
            T.StructField("value", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # same fold discipline as keyed_ema: only the (l, b) updates are
        # order-pinned; forecast add, rounding, and frame construction
        # vectorize per batch, and (l, b, step) state carries across
        # batch boundaries
        state: dict = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            karr = pdf[key].to_numpy()
            xs = [float(x) for x in pdf[value].to_list()]
            ls = [0.0] * n
            bs = [0.0] * n
            steps = np.empty(n, dtype="int32")
            for i, j in _key_runs(karr):
                kk = int(karr[i])
                l, b, st = state.get(kk, (None, None, 0))
                for t in range(i, j):
                    x = xs[t]
                    if l is None:
                        l, b = x, 0.0
                    else:
                        l_new = (x + (l + b)) / 2
                        b = ((l_new - l) + 3 * b) / 4
                        l = l_new
                    st += 1
                    ls[t] = l
                    bs[t] = b
                    steps[t] = st
                state[kk] = (l, b, st)
            la = np.asarray(ls, dtype="float64")
            ba = np.asarray(bs, dtype="float64")
            yield pd.DataFrame(
                {
                    "key": karr.astype("int64"),
                    "step": steps,
                    "value": np.asarray(pdf[value].to_numpy(), dtype="int64"),
                    "level": _round6_arr(la),
                    "trend": _round6_arr(ba),
                    # elementwise l+b is the same single IEEE add the
                    # scalar loop performed before rounding
                    "forecast": _round6_arr(la + ba),
                }
            )

    return _stream_by_key(df, key, order, [key, order, value]).mapInPandas(
        fold, schema
    )


def keyed_cusum(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    drift: int,
    threshold: int,
) -> DataFrame:
    """(key, step, s, alarm) — one-sided CUSUM drift detector per key:
    s_t = max(0, s_{t-1} + x_t - drift); alarm when s_t >= threshold,
    after which s resets to 0 (restart detection). Pure integer
    arithmetic — exact on any engine. The standard cheap monitor for
    'did this source's volume/quality drift upward' in ingest pipelines.
    """
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("step", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("alarm", T.BooleanType()),
        ]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        state: dict = {}  # key -> (s, step); pure ints, exact
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            karr = pdf[key].to_numpy()
            xs = [int(x) for x in pdf[value].to_list()]
            ss = [0] * n
            alarms = [False] * n
            steps = np.empty(n, dtype="int32")
            for i, j in _key_runs(karr):
                kk = int(karr[i])
                s, st = state.get(kk, (0, 0))
                for t in range(i, j):
                    s = s + xs[t] - drift
                    if s < 0:
                        s = 0
                    alarm = s >= threshold
                    st += 1
                    ss[t] = s
                    alarms[t] = alarm
                    steps[t] = st
                    if alarm:
                        s = 0
                state[kk] = (s, st)
            yield pd.DataFrame(
                {
                    "key": karr.astype("int64"),
                    "step": steps,
                    "s": np.asarray(ss, dtype="int64"),
                    "alarm": np.asarray(alarms, dtype=bool),
                }
            )

    return _stream_by_key(df, key, order, [key, order, value]).mapInPandas(
        fold, schema
    )


def keyed_km_survival(
    df: DataFrame,
    key: str,
    time: str,
    deaths: str,
    at_risk: str,
) -> DataFrame:
    """(key, t, n_risk, d, survival) — Kaplan-Meier product-limit
    estimator per key over an already-aggregated risk table:
    S(t) = prod_{s <= t} (1 - d_s / n_s) over ascending event times.

    The cumulative product is the same non-associative-fold class as
    keyed_ema above (no window-frame rewrite), and the same determinism
    contract: each factor (1 - d/n) is one float64 division, the fold
    multiplies ascending — the DuckDB oracle replays the identical op
    sequence in a recursive CTE, and the 6dp output uses the sign-aware
    HALF_UP so both engines round alike.

    Scale: the input is a RISK TABLE (one row per (key, distinct event
    time)), which is time-bounded — days-in-window rows per key, not
    data-sized; the fold is trivially cheap. Building that table
    upstream is one groupBy + one window cumsum, all associative.
    Deliberately KEPT on groupBy().applyInPandas (unlike the
    ema/holt/cusum partition-stream folds): keys here are cohorts —
    a handful of groups — so per-group instantiation is noise and the
    simpler shape wins (100x exp 0.21, SCALE.md).
    """
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("t", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d", T.LongType()),
            T.StructField("survival", T.DoubleType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(time)
        kk = str(pdf[key].iloc[0])
        ds = [float(d) for d in pdf[deaths].to_list()]
        ns = [float(v) for v in pdf[at_risk].to_list()]
        surv = []
        s = 1.0
        for d, v in zip(ds, ns):
            s = s * (1.0 - d / v)
            surv.append(s)
        m = len(surv)
        return pd.DataFrame(
            {
                "key": [kk] * m,
                "t": np.asarray(pdf[time].to_numpy(), dtype="int64"),
                "n_risk": np.asarray(pdf[at_risk].to_numpy(), dtype="int64"),
                "d": np.asarray(pdf[deaths].to_numpy(), dtype="int64"),
                "survival": _round6_arr(surv),
            }
        )

    return df.groupBy(key).applyInPandas(fold, schema)
