"""Custom stateful streaming operator — applyInPandasWithState.

The streaming analogue of the BDA binner (SURVEY §2.10): per-key state
carried across micro-batches with an explicit timeout, the shape the
reference's decorrelation-bounded Binner needs when bins must close on
*data-dependent* conditions rather than fixed windows (session_window
covers only the gap rule).

`streaming_bda` is that binner: the open bin's exact fixed-point
accumulator round-trips through the state store (GroupState
get/update/timeout) between micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BDA_OUTPUT_SCHEMA = (
    "antenna1 int, antenna2 int, bin_idx long, n_rows long, "
    "time_start double, time_end double, vis_re_avg double, "
    "vis_im_avg double, weight_sum double, closed boolean"
)
# the open bin's full accumulator — what the reference's Binner jitclass
# holds between add_row calls (bda_mapping.py:111-186), persisted here in
# the state store between micro-batches.
#
# STATE SCHEMA v2 (r9): the accumulator moved from float doubles
# (acc_motion/wsum/vre_w/vim_w) to exact fixed-point longs
# (acc_q/w_q/wre_q/wim_q) when the vectorized Phase-A kernel landed.
# A streaming query restarted from a pre-r9 checkpoint will fail state
# validation (or misread state) — there is NO migration path: discard
# the old checkpoint directory (or start the upgraded query under a new
# checkpointLocation) when upgrading across the v1→v2 boundary.
#
# STATE SCHEMA v3 (r11, VERDICT r10 item 5): an explicit trailing
# `state_version` field. Spark's state store rejects a WIDTH change
# itself (a v2 12-field checkpoint cannot decode under the 13-field v3
# schema — the restart fails at state-schema validation), but a future
# same-width evolution would decode silently and misread; the version
# field closes that: `streaming_bda` raises a RuntimeError whose
# message starts "incompatible BDA checkpoint state" and names the
# remedy (discard the checkpoint / new checkpointLocation — there is
# NO migration path) on any state row whose version !=
# BDA_STATE_VERSION. Plain RuntimeError by design: the check runs
# inside the executor closure, which must stay self-contained
# (executors cannot import this package).
BDA_STATE_VERSION = 3
BDA_STATE_SCHEMA = (
    "bin_idx long, start_t double, prev_u double, prev_v double, "
    "prev_w double, acc_q long, n long, t_min double, t_max double, "
    "w_q long, wre_q long, wim_q long, state_version int"
)


def _make_scan_kernel(
    decorr_tol: float,
    max_span_secs: float,
    motion_grid: float = 1e6,
    value_grid: float = 1e6,
):
    """Vectorized per-batch BDA scan (r8 verdict item 2): the Phase-A
    integer kernel (``skew.salted_bda_phase_a``) lifted into the
    state-store update path. Motion steps quantize to exact int64 on the
    1/motion_grid grid, so the accumulator is ASSOCIATIVE — one global
    prefix ``Q = cumsum(dq)`` replaces the per-row scalar loop, bin
    closures become one vectorized two-sided jump table
    (``searchsorted(Q, Q + tol_q)`` for motion, ``searchsorted(t,
    t + span)`` for the span rule — exactly ``salted_bda_phase_a``'s
    jmp), the chain walk touches one scalar per BIN, and per-bin sums
    are int64 ``np.add.reduceat`` segments (exact, order-independent).
    The entry bin continues from carried state via the same two
    searchsorteds Phase B (``skew.salted_bda_phase_b``) uses to resolve
    i*.

    Semantics: the streaming twin of ``bda.bda_average_quantized`` /
    ``skew.salted_bda_average`` — the engine's production (fixed-point)
    BDA discipline. On motion/value inputs exact on the grid (all
    driver fixtures) the decisions and outputs coincide bit-for-bit
    with the float sequential binner as well.

    Returns a PURE function (numpy arrays + state tuple in, closed-bin
    column arrays + new state out) built by this factory so the
    streaming closure captures it by value — cloudpickle serializes
    nested functions with their cells, keeping the UDF self-contained
    (executors cannot import this package).

    Reference semantics anchor: africanus/averaging/bda_mapping.py
    111-186 (the Binner's add_row/close loop)."""
    import math

    import numpy as np

    tol_q = int(math.floor(decorr_tol * motion_grid + 0.5))
    MG, VG, span = motion_grid, value_grid, max_span_secs
    EMPTY = (np.empty(0, np.int64), np.empty(0, np.int64),
             np.empty(0, np.float64), np.empty(0, np.float64),
             np.empty(0, np.int64), np.empty(0, np.int64),
             np.empty(0, np.int64))

    def scan(u, v, w, t, w_q, wre_q, wim_q, st):
        """st/new_state: (bin_idx, start_t|None, pu, pv, pw, acc_q, n,
        t_min, t_max, w_q, wre_q, wim_q); closed bins returned as column
        arrays (ids, n, t_min, t_max, wre_q, wim_q, w_q) — integer sums,
        divided once at emission."""
        (bin_idx, start_t, pu, pv, pw, acc_q,
         sn, s_tmin, s_tmax, s_w, s_re, s_im) = st
        n = len(t)
        if n == 0:
            return EMPTY, st
        steps = np.zeros(n, dtype=np.float64)
        if n > 1:
            steps[1:] = (
                np.abs(u[1:] - u[:-1]) + np.abs(v[1:] - v[:-1])
            ) + np.abs(w[1:] - w[:-1])
        if start_t is not None:
            steps[0] = (abs(u[0] - pu) + abs(v[0] - pv)) + abs(w[0] - pw)
        dq = np.floor(steps * MG + 0.5).astype(np.int64)
        Q = np.cumsum(dq)

        # two-sided jump table for every potential anchor b: first j with
        # Q[j] - Q[b] > tol_q  or  t[j] > t[b] + span (phase_a's jmp)
        jmp = np.minimum(
            np.searchsorted(Q, Q + tol_q, side="right"),
            np.searchsorted(t, t + span, side="right"),
        )

        merge_state = sn > 0
        pre = None  # state-only entry bin closed by the batch's 1st row
        if start_t is None:
            start_t = float(t[0])
            j0 = int(jmp[0])
        else:
            # entry-bin closure: carried accumulator + carried anchor
            # (phase B's i* resolution — two searchsorteds, no scan)
            j0 = int(min(
                np.searchsorted(Q, tol_q - acc_q, side="right"),
                np.searchsorted(t, start_t + span, side="right"),
            ))
        if merge_state and j0 == 0:
            # the first batch row already triggers: the carried bin
            # closes with no batch rows; row 0 anchors a fresh chain
            pre = (bin_idx, sn, s_tmin, s_tmax, s_re, s_im, s_w)
            bin_idx += 1
            merge_state = False
            start_t = float(t[0])
            j0 = int(jmp[0])

        def pack_pre():
            if pre is None:
                return EMPTY
            b, bn, btmin, btmax, bre, bim, bw = pre
            return (np.array([b], np.int64), np.array([bn], np.int64),
                    np.array([btmin], np.float64),
                    np.array([btmax], np.float64),
                    np.array([bre], np.int64), np.array([bim], np.int64),
                    np.array([bw], np.int64))

        if j0 >= n:
            # no further closure: the open bin absorbs rows [0, n)
            if merge_state:
                acc_new = acc_q + int(Q[n - 1])
                on = sn + n
                ow, ore, oim = (s_w + int(w_q.sum()),
                                s_re + int(wre_q.sum()),
                                s_im + int(wim_q.sum()))
                otmin = min(s_tmin, float(t[0]))
                otmax = max(s_tmax, float(t[n - 1]))
            else:
                acc_new = int(Q[n - 1]) - int(Q[0])
                on = n
                ow, ore, oim = (int(w_q.sum()), int(wre_q.sum()),
                                int(wim_q.sum()))
                otmin, otmax = float(t[0]), float(t[n - 1])
            new_state = (bin_idx, start_t, float(u[-1]), float(v[-1]),
                         float(w[-1]), acc_new, on, otmin, otmax,
                         ow, ore, oim)
            return pack_pre(), new_state

        # chain walk: one scalar index per closed bin (jmp[b] > b always)
        bounds = [j0]
        b = j0
        while True:
            nb = int(jmp[b])
            if nb >= n:
                break
            bounds.append(nb)
            b = nb
        A = np.asarray(bounds, dtype=np.int64)
        nb_closed = len(A)
        segs = np.concatenate(([0], A, [n]))  # strictly increasing

        # vectorized per-bin reductions (int64 — exact, order-free);
        # np.add.reduceat(x, idx) sums [idx[k], idx[k+1]) per k, the
        # trailing segment [A[-1], n) being the new open bin
        w_all = np.add.reduceat(w_q, segs[:-1])
        re_all = np.add.reduceat(wre_q, segs[:-1])
        im_all = np.add.reduceat(wim_q, segs[:-1])
        cnt_all = np.diff(segs)
        tmin_all = t[segs[:-1]]
        tmax_all = t[segs[1:] - 1]

        ids = np.arange(bin_idx, bin_idx + nb_closed, dtype=np.int64)
        ns = cnt_all[:nb_closed].copy()
        tmins = tmin_all[:nb_closed].astype(np.float64, copy=True)
        tmaxs = tmax_all[:nb_closed].astype(np.float64, copy=True)
        res = re_all[:nb_closed].astype(np.int64, copy=True)
        ims = im_all[:nb_closed].astype(np.int64, copy=True)
        ws = w_all[:nb_closed].astype(np.int64, copy=True)
        if merge_state:
            # merge carried partials into the entry bin (index 0)
            ns[0] += sn
            res[0] += s_re
            ims[0] += s_im
            ws[0] += s_w
            tmins[0] = min(s_tmin, tmins[0]) if cnt_all[0] else s_tmin
            tmaxs[0] = max(s_tmax, tmaxs[0]) if cnt_all[0] else s_tmax

        # new open bin = rows [A[-1], n)
        last = int(A[-1])
        new_state = (
            int(bin_idx + nb_closed), float(t[last]), float(u[-1]),
            float(v[-1]), float(w[-1]), int(Q[n - 1]) - int(Q[last]),
            int(cnt_all[-1]), float(t[last]), float(t[n - 1]),
            int(w_all[-1]), int(re_all[-1]), int(im_all[-1]),
        )
        if pre is not None:
            pb = pack_pre()
            closed = tuple(
                np.concatenate((pb[k], arr))
                for k, arr in enumerate((ids, ns, tmins, tmaxs, res, ims, ws))
            )
        else:
            closed = (ids, ns, tmins, tmaxs, res, ims, ws)
        return closed, new_state

    return scan


def streaming_bda(
    vis_stream: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    idle_timeout_secs: float | None = None,
) -> DataFrame:
    """True streaming BDA (ROADMAP #3): the decorrelation accumulator of
    operators/bda.py carried across micro-batches per baseline via
    applyInPandasWithState.

    Same closure rule as the batch operators — accumulate rows while
    Σ|Δuvw| ≤ decorr_tol and the span ≤ max_span_secs — in the engine's
    production FIXED-POINT discipline (motion and value sums as exact
    int64 on the 1e-6 grid, the ``bda_average_quantized`` /
    ``salted_bda_average`` semantics; r9 lifted its Phase-A kernel,
    ``skew.salted_bda_phase_a``, in here, replacing the per-row Python
    loop), with the open bin's accumulator persisted in the state
    store, so a baseline's bin can span any number of micro-batches.
    Closed bins are emitted with ``closed=true`` (immutable
    thereafter); the open bin is re-emitted each batch with
    ``closed=false`` (update-mode upsert). Rows must
    arrive time-ordered per key across batches (the reference's
    monotone-time row contract, predict.py:688 / SURVEY §2.10 — late
    rows would belong to an emitted bin and are the flagged-row case).

    With ``idle_timeout_secs`` set, a baseline whose watermark passes
    `last row time + idle_timeout_secs` without new rows has its open
    bin FLUSHED as closed via GroupState event-time timeout — the input
    stream must then carry a watermarked ``event_time`` timestamp
    column built as timestamp_seconds(time) (caller does
    ``withWatermark``); without a timeout, idle baselines hold their
    last bin open until more data arrives."""

    update = _make_bda_update(decorr_tol, max_span_secs, idle_timeout_secs)
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if idle_timeout_secs is not None
        else GroupStateTimeout.NoTimeout
    )
    return vis_stream.groupBy("antenna1", "antenna2").applyInPandasWithState(
        update,
        outputStructType=BDA_OUTPUT_SCHEMA,
        stateStructType=BDA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def _make_bda_update(
    decorr_tol: float,
    max_span_secs: float,
    idle_timeout_secs: float | None = None,
):
    """Build the per-key state-update function for :func:`streaming_bda`
    — a factory so tests can drive the update path directly (e.g. the
    v2→v3 incompatible-checkpoint error) without the streaming engine."""
    scan = _make_scan_kernel(decorr_tol, max_span_secs)
    VG = 1e6  # value grid — mirrors bda_average_quantized's value_grid
    state_version = BDA_STATE_VERSION  # captured by value (closure cell)

    def update(key, pdfs, state: GroupState):
        # self-contained closure (executors cannot import this package;
        # `scan` is a nested function captured by value via its cell)
        import pandas as _pd

        cols = ["antenna1", "antenna2", "bin_idx", "n_rows",
                "time_start", "time_end", "vis_re_avg", "vis_im_avg",
                "weight_sum", "closed"]
        a1, a2 = key
        if state.exists:
            st_row = state.get
            sv = st_row[12] if len(st_row) == 13 else None
            if sv != state_version:
                raise RuntimeError(
                    "incompatible BDA checkpoint state: baseline "
                    f"({a1},{a2}) carries state_version={sv!r}; this "
                    f"kernel writes v{state_version}. No migration path "
                    "exists — discard the old checkpoint directory or "
                    "restart the query under a new checkpointLocation."
                )
            (bin_idx, start_t, pu, pv, pw, acc_q, n,
             t_min, t_max, w_acc, re_acc, im_acc) = st_row[:12]
            if n == 0:
                start_t = None  # stored placeholder, no open bin yet
        else:
            bin_idx, start_t = 0, None
            pu = pv = pw = 0.0
            acc_q, n, w_acc, re_acc, im_acc = 0, 0, 0, 0, 0
            t_min = t_max = 0.0
        out = []

        def _div(a, b):
            # Python-int mirror of the numpy closed-bin quotient: a bin
            # whose every weight quantizes to 0 (weight < 0.5/VG) must
            # not raise ZeroDivisionError and kill the query (r9
            # ADVICE). 0/0 gives nan, which Arrow turns into NULL on the
            # way out, as the salted twin gives; x/0 gives ±inf, as
            # numpy does
            if b != 0:
                return a / b
            import math as _math
            return float("nan") if a == 0 else _math.copysign(
                float("inf"), a
            )

        if idle_timeout_secs is not None and state.hasTimedOut:
            # idle flush: the watermark passed the open bin's deadline
            if n > 0:
                out.append((int(a1), int(a2), int(bin_idx), int(n),
                            t_min, t_max, _div(re_acc, w_acc),
                            _div(im_acc, w_acc), w_acc / VG, True))
            state.remove()
            yield _pd.DataFrame(out, columns=cols)
            return

        import numpy as _np

        def q(x):  # fixed-point quantize, sign-aware (the twin's q())
            x = x * VG
            return (_np.floor(_np.abs(x) + 0.5) * _np.sign(x)).astype("int64")

        st = (bin_idx, start_t, pu, pv, pw, acc_q,
              n, t_min, t_max, w_acc, re_acc, im_acc)
        blocks = []  # closed-bin column tuples
        # collect ALL Arrow chunks first, then sort ONCE on the full
        # total tie-break key: the groupBy shuffle behind
        # applyInPandasWithState orders by key only, so a key whose batch
        # rows span multiple chunks gets no cross-chunk time order —
        # per-chunk sorting would feed the sequential binner a
        # non-monotone series (r9 ADVICE, medium)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = _pd.concat(chunks, ignore_index=True).sort_values(
                ["time", "row_id", "u", "v", "w", "vis_re"]
            )
            u = pdf["u"].to_numpy(dtype="float64")
            v = pdf["v"].to_numpy(dtype="float64")
            w = pdf["w"].to_numpy(dtype="float64")
            t = pdf["time"].to_numpy(dtype="float64")
            wt = pdf["weight"].to_numpy(dtype="float64")
            closed, st = scan(
                u, v, w, t,
                q(wt),
                q(pdf["vis_re"].to_numpy(dtype="float64") * wt),
                q(pdf["vis_im"].to_numpy(dtype="float64") * wt),
                st,
            )
            if len(closed[0]):
                blocks.append(closed)
        (bin_idx, start_t, pu, pv, pw, acc_q,
         n, t_min, t_max, w_acc, re_acc, im_acc) = st
        frames = []
        if blocks:
            ids, ns, tmins, tmaxs, res, ims, ws = (
                _np.concatenate([b[k] for b in blocks]) for k in range(7)
            )
            frames.append(_pd.DataFrame({
                "antenna1": _np.full(len(ids), int(a1), dtype="int32"),
                "antenna2": _np.full(len(ids), int(a2), dtype="int32"),
                "bin_idx": ids, "n_rows": ns,
                "time_start": tmins, "time_end": tmaxs,
                "vis_re_avg": res / ws, "vis_im_avg": ims / ws,
                "weight_sum": ws / VG,
                "closed": _np.ones(len(ids), dtype=bool),
            }))
        if n > 0:  # provisional open bin — upserted next batch
            frames.append(_pd.DataFrame(
                [(int(a1), int(a2), int(bin_idx), int(n), t_min, t_max,
                  _div(re_acc, w_acc), _div(im_acc, w_acc), w_acc / VG,
                  False)],
                columns=cols,
            ))
        state.update((bin_idx, start_t if start_t is not None else 0.0,
                      pu, pv, pw, int(acc_q), int(n), t_min, t_max,
                      int(w_acc), int(re_acc), int(im_acc),
                      state_version))
        if idle_timeout_secs is not None and n > 0:
            # flush deadline in event time: last row + idle window
            state.setTimeoutTimestamp(int((t_max + idle_timeout_secs) * 1000))
        if frames:
            yield _pd.concat(frames, ignore_index=True)
        else:
            yield _pd.DataFrame(out, columns=cols)

    return update
