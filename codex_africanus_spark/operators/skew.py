"""Skew-safe aggregation: salting for hot keys.

At 100 TB a handful of hot keys (one baseline with 10⁹ rows, one user
with 10% of events) turn a groupBy into a single straggler task. AQE's
skew-join splitting covers joins; for *aggregations* the classic fix is
two-stage salted aggregation:

  stage 1: groupBy(key, salt = pmod(deterministic_spread, S)) — partial
           aggregates over S-way split hot keys
  stage 2: groupBy(key) — merge the S partials

Exact for any commutative-associative aggregate (sums, counts, min/max —
i.e. everything the deterministic fixed-point mode emits). The helper
keeps both stages as plain Catalyst hash aggregates — no UDF.

This generalizes the reference's per-chunk partial reduction strategy
(LinearReduction/parallel_reduction, dask_predict.py:64-369) with an
explicit fan-out factor where the data, not the chunking, is skewed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sessionize(
    events: DataFrame,
    gap_us: int = 1_800_000_000,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Two-level-key sessionize for pathological key skew (ROADMAP
    quality item): the sequential gap rule runs per (user, coarse time
    bucket) — bounding any applyInPandas task to one bucket of one user —
    and bucket-boundary sessions are stitched relationally afterwards.

    Repair rule: per (user, bucket) summarize (first_ts, last_ts,
    n_sessions); ordered by bucket, a bucket MERGES into the previous
    chain when first_ts − lag(last_ts) ≤ gap_us (valid for any bucket
    width: buckets absent from the summary contain no events, so the lag
    spans them correctly). Each bucket's global offset is
    Σ prior n_sessions − cumulative merges, making the merged bucket's
    local session 0 continue the previous chain's last index.

    Exactly equivalent to the unsalted operator (asserted in tests) —
    the stitch summary is one row per (user, bucket), negligible beside
    the event shuffle it de-skews."""
    from pyspark.sql import Window as W

    ev = events.select(
        "event_id", "user_id", "ts_us",
        (F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("__bucket"),
    )

    # Sorted-stream mapInPandas instead of per-group applyInPandas: the
    # two-level key multiplies the group count (users × buckets — 45k
    # tiny groups at sf0.1, ~5 ms of per-group Python overhead each ⇒
    # 216 s measured). One vectorized pass per Arrow batch with carry
    # state across batch boundaries costs seconds; at 100 TB per-group
    # Python calls are the anti-pattern, ordered streaming is the shape.
    def stream(batches):
        prev_key, prev_ts, prev_idx = None, None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key = list(zip(pdf["user_id"].to_numpy(), pdf["__bucket"].to_numpy()))
            gaps = pdf["ts_us"].diff().fillna(0) > gap_us
            same_group = pdf[["user_id", "__bucket"]].diff().fillna(0).abs().sum(axis=1) == 0
            inc = (gaps & same_group).astype("int64")
            inc.iloc[0] = 0
            grp = pdf["user_id"].astype(str) + "|" + pdf["__bucket"].astype(str)
            local = inc.groupby(grp.to_numpy()).cumsum()
            if prev_key is not None and key[0] == prev_key:
                base = prev_idx + (
                    1 if (int(pdf["ts_us"].iloc[0]) - prev_ts) > gap_us else 0
                )
                import numpy as np

                mask = np.array([k == prev_key for k in key], dtype=np.int64)
                local = local + mask * base
            out = pdf[["event_id", "user_id", "ts_us", "__bucket"]].copy()
            out["local_idx"] = local.astype("int64").to_numpy()
            prev_key = key[-1]
            prev_ts = int(pdf["ts_us"].iloc[-1])
            prev_idx = int(out["local_idx"].iloc[-1])
            yield out

    local = (
        # partition by BOTH keys: a hot user's buckets spread across
        # tasks (the salting guarantee), and a (user, bucket) group never
        # spans partitions, so the in-partition carry state suffices
        ev.repartition("user_id", "__bucket")
        .sortWithinPartitions("user_id", "__bucket", "ts_us", "event_id")
        .mapInPandas(
            stream,
            "event_id long, user_id long, ts_us long, __bucket long, local_idx long",
        )
    )
    summary = local.groupBy("user_id", "__bucket").agg(
        F.min("ts_us").alias("first_ts"),
        F.max("ts_us").alias("last_ts"),
        (F.max("local_idx") + 1).alias("n_sessions"),
    )
    wb = W.partitionBy("user_id").orderBy("__bucket")
    prev_last = F.lag("last_ts").over(wb)
    merged = (
        prev_last.isNotNull() & ((F.col("first_ts") - prev_last) <= gap_us)
    ).cast("long")
    offsets = (
        summary.withColumn("__m", merged)
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("n_sessions").over(wb.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            )
            - F.sum("__m").over(wb.rowsBetween(W.unboundedPreceding, 0)),
        )
        .select("user_id", "__bucket", "__offset")
    )
    return local.join(offsets, ["user_id", "__bucket"]).select(
        "event_id", "user_id", "ts_us",
        (F.col("__offset") + F.col("local_idx")).alias("session_idx"),
    )


def salted_sum(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
    counts: bool = True,
    n_salts: int = 16,
    spread_col: str | None = None,
) -> DataFrame:
    """Two-stage exact aggregation of BIGINT-valued expressions.

    `sums`: {output_name: integer-valued Column to sum}. The salt derives
    from `spread_col` (any high-cardinality column; defaults to
    monotonically varying input position via spark_partition_id) so hot
    keys split evenly.
    """
    spread = (
        F.col(spread_col)
        if spread_col
        else F.spark_partition_id().cast("long")
    )
    salt = F.pmod(F.hash(spread), F.lit(n_salts)).alias("__salt")
    stage1_aggs = [F.sum(c).alias(name) for name, c in sums.items()]
    if counts:
        stage1_aggs.append(F.count(F.lit(1)).alias("__n"))
    stage1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*stage1_aggs)
    stage2_aggs = [F.sum(name).alias(name) for name in sums]
    if counts:
        stage2_aggs.append(F.sum("__n").alias("n_rows"))
    return stage1.groupBy(*keys).agg(*stage2_aggs)


def _stream_by_groups(
    df: DataFrame, keys, order, fn, schema: str, columns
) -> DataFrame:
    """Run a per-group kernel over a SORTED STREAM instead of
    applyInPandas: repartition by the group keys (a group never spans
    partitions), sort within partitions by keys+order, and walk Arrow
    batches detecting group boundaries, carrying the trailing partial
    group across batch boundaries. applyInPandas pays an Arrow
    round-trip + frame construction per group, which at thousands of
    tiny (key, bucket) groups dominates everything (the
    salted_sessionize lesson: ~5 ms × 45k groups = 216 s). Memory per
    task: one group plus one Arrow batch.

    `fn(key_tuple, group_pdf) -> list[tuple]` receives the complete
    group's rows already in `order` and returns plain output row
    tuples; ONE output frame is assembled per input batch (no
    per-group pandas objects)."""
    import numpy as np
    import pandas as pd

    def stream(batches):
        cur_key, buf = None, []

        def segments(pdf):
            ks = [pdf[k].to_numpy() for k in keys]
            n = len(pdf)
            change = np.zeros(n, dtype=bool)
            for a in ks:
                change[1:] |= a[1:] != a[:-1]
            bounds = np.flatnonzero(change)
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            for s, e in zip(starts, ends):
                yield tuple(a[s] for a in ks), pdf.iloc[s:e]

        def flush(key, parts):
            g = parts[0] if len(parts) == 1 else pd.concat(
                parts, ignore_index=True
            )
            return fn(key, g)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows_out = []
            for key, seg in segments(pdf):
                if cur_key is not None and key != cur_key:
                    rows_out.extend(flush(cur_key, buf))
                    buf = []
                cur_key = key
                buf.append(seg)
            if rows_out:
                yield pd.DataFrame(rows_out, columns=columns)
        if buf:
            yield pd.DataFrame(flush(cur_key, buf), columns=columns)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(stream, schema)
    )


def salted_bda_average(
    vis: DataFrame,
    decorr_tol: float = 500.0,
    max_span_secs: float = 2_592_000.0,
    bucket_secs: float = 2_592_000.0,
    motion_grid: float = 1e6,
    value_grid: float = 1e6,
) -> DataFrame:
    """Skew-safe BDA: `bda.bda_average_quantized`'s greedy bin closure
    decomposed over a two-level (baseline, coarse-time-bucket) key so no
    task ever holds a whole baseline — the r7-verdict pressure point
    ("bda_average still shuffles whole baselines; at 100× with a
    dominant baseline this is the one remaining whole-group-in-memory
    point"). Bit-identical to the sequential scan (skew fuzz,
    tests/test_salted_bda.py) because motion accumulates as EXACT
    integers (quantized steps ⇒ associative ⇒ decomposition-invariant;
    float accumulation forks boundary decisions at the ULP level —
    deterministic.py discipline).

    Why a sessionize-style O(1) stitch is impossible here: the gap rule
    is memoryless (each decision reads two adjacent rows), but greedy
    bin closure carries accumulated state from the bin's start — a
    bucket's interior bins depend on the ENTRY state, so per-bucket
    from-scratch results cannot be offset-stitched. The exact
    decomposition instead exploits that both triggers are MONOTONE in
    the row index (Σ|Δuvw| nondecreasing, time nondecreasing):

      Phase A (parallel, per bucket): local integer motion prefix Qb;
        jump(i) = first j with Qb[j]−Qb[i] > tol_q or t_j−t_i > span by
        vectorized searchsorted; a reverse-order DP gives, for every
        row i, the chain-from-i's bin count and exit state. Only the
        ENTRY REGION (rows any possible incoming bin could still cover:
        Qb ≤ tol_q and t ≤ t₀+span, plus the first row past it — a
        provable superset of every feasible first-restart i*) is
        emitted, as array columns on ONE summary row per bucket.
      Phase B (sequential but tiny): per baseline, walk bucket
        summaries in order carrying (acc_carry, anchor_t, bin counter),
        started from the open bin an earlier micro-batch carried in:
        resolve i* by two searchsorteds into the region, absorb
        fully-covered buckets, and read the exit state from the DP —
        never touching row-level data. O(#buckets) rows per baseline.
      Phase C (parallel, per bucket): re-scan each bucket from its
        resolved i*, assign global bin ids, emit per-bin PARTIAL
        fixed-point sums; a final groupBy merges straddling bins
        exactly (integer partials are order-independent).

    Memory: every pandas task is bounded by one bucket (Phase A/C) or
    one baseline's bucket-summary frame (Phase B); the region arrays
    are bin-reach-sized (≈ rows per bin), not bucket-sized, except in
    the zero-motion+zero-dt pathology where they degrade to bucket
    size — never worse than the unsalted operator's whole-baseline
    group. Int64 bound: per-bucket motion·grid < 2^63 (at grid=1e6 and
    ~1e9-unit steps, ≥9e9 rows/bucket before overflow — size buckets
    accordingly).

    Code: the three kernels are `salted_bda_phase_a/b/c` below; the
    one driver that wires them (motion prefix, carry routing, final
    merge) is `streaming.salted.salted_bda_increment`, and this
    operator is that increment on the empty carry, without its
    ``closed`` column. A bin whose weights all quantize to 0 averages
    to NULL.

    Cites: reference bda_mapping.py:111-277 (Binner semantics);
    salted_sessionize above (the two-level-key precedent, whose stitch
    this generalizes from memoryless to monotone-accumulated rules)."""
    # a call-time import: streaming.salted imports this module's kernels
    from codex_africanus_spark.streaming.salted import (
        empty_carry,
        salted_bda_increment,
    )

    bins, _ = salted_bda_increment(
        vis, empty_carry(vis.sparkSession), decorr_tol, max_span_secs,
        bucket_secs, motion_grid, value_grid,
    )
    return bins.drop("closed")


def salted_bda_phase_a(rows: DataFrame, tol_q: int, span: float) -> DataFrame:
    """Phase A of `salted_bda_average` over its motion-prefix rows
    (antenna1, antenna2, __bucket, time, row_id, __qb): one summary row
    per (baseline, bucket) carrying the entry region and the
    chain-from-i DP."""
    import numpy as np

    a_schema = (
        "antenna1 int, antenna2 int, __bucket long, n_rows long, "
        "qb_last long, t_last double, r_q array<long>, r_t array<double>, "
        "r_nclosed array<long>, r_exit_acc array<long>, r_exit_t array<double>"
    )

    def phase_a(key, pdf):
        # rows arrive in (time, row_id) order from the stream sort
        qb = pdf["__qb"].to_numpy()
        t = pdf["time"].to_numpy()
        n = len(pdf)
        jmp = np.minimum(
            np.searchsorted(qb, qb + tol_q, side="right"),
            np.searchsorted(t, t + span, side="right"),
        )
        nclosed = np.zeros(n, dtype=np.int64)
        exit_acc = np.zeros(n, dtype=np.int64)
        exit_t = np.zeros(n, dtype=np.float64)
        for i in range(n - 1, -1, -1):
            j = jmp[i]
            if j >= n:
                exit_acc[i] = qb[n - 1] - qb[i]
                exit_t[i] = t[i]
            else:
                nclosed[i] = 1 + nclosed[j]
                exit_acc[i] = exit_acc[j]
                exit_t[i] = exit_t[j]
        e = min(
            int(np.searchsorted(qb, tol_q, side="right")),
            int(np.searchsorted(t, t[0] + span, side="right")),
        )
        re_ = min(e, n - 1)
        a1, a2, bkt = key
        return [(
            int(a1), int(a2), int(bkt), n, int(qb[n - 1]), float(t[n - 1]),
            qb[: re_ + 1].tolist(), t[: re_ + 1].tolist(),
            nclosed[: re_ + 1].tolist(), exit_acc[: re_ + 1].tolist(),
            exit_t[: re_ + 1].tolist(),
        )]

    # sorted-stream, not applyInPandas: thousands of tiny (baseline,
    # bucket) groups would each pay an Arrow round-trip (measured 27 s
    # at sf0.01 vs ~3 s streamed)
    return _stream_by_groups(
        rows.select(
            "antenna1", "antenna2", "__bucket", "time", "row_id", "__qb"
        ),
        # __qb is nondecreasing in w2 order, so (time, row_id, __qb)
        # reproduces it; rows still tied are value-identical to phase_a
        ["antenna1", "antenna2", "__bucket"], ["time", "row_id", "__qb"],
        phase_a, a_schema,
        ["antenna1", "antenna2", "__bucket", "n_rows", "qb_last", "t_last",
         "r_q", "r_t", "r_nclosed", "r_exit_acc", "r_exit_t"],
    )


def salted_bda_phase_b(tol_q: int, span: float):
    """The Phase B kernel of `salted_bda_average`, for applyInPandas:
    one baseline's bucket summaries (Phase A rows, each also carrying
    the baseline's open bin from an earlier batch as c_bin, c_start,
    c_acc, or nulls) in; per bucket its (i_star, entry_bin, bin_base)
    resolution, with the baseline's open bin and exit state (open_bin,
    exit_acc, exit_t) repeated on every row, out."""
    import numpy as np
    import pandas as pd

    def phase_b(pdf):
        pdf = pdf.sort_values("__bucket").reset_index(drop=True)
        a1 = int(pdf["antenna1"].iloc[0])
        a2 = int(pdf["antenna2"].iloc[0])
        out = []
        started = not pd.isna(pdf["c_bin"].iloc[0])
        if started:
            # resume the carried open bin (the unsalted twin's state)
            acc_carry = int(pdf["c_acc"].iloc[0])
            anchor_t = float(pdf["c_start"].iloc[0])
            cur_bin = int(pdf["c_bin"].iloc[0])
        else:
            acc_carry, anchor_t, cur_bin = 0, 0.0, -1
        next_bin = cur_bin + 1
        for k in range(len(pdf)):
            bkt = int(pdf["__bucket"].iloc[k])
            qb_last = int(pdf["qb_last"].iloc[k])
            t_last = float(pdf["t_last"].iloc[k])
            r_q = np.asarray(pdf["r_q"].iloc[k], dtype=np.int64)
            r_t = np.asarray(pdf["r_t"].iloc[k], dtype=np.float64)
            if started:
                if acc_carry + qb_last <= tol_q and t_last <= anchor_t + span:
                    # whole bucket absorbed into the open entering bin
                    out.append((a1, a2, bkt, -1, cur_bin, -1))
                    acc_carry += qb_last
                    continue
                i_star = min(
                    int(np.searchsorted(r_q, tol_q - acc_carry, side="right")),
                    int(np.searchsorted(r_t, anchor_t + span, side="right")),
                )
                if i_star >= len(r_q):
                    # contract check must survive `python -O` and carry
                    # enough state to diagnose from a task failure
                    raise ValueError(
                        "salted BDA entry-region invariant violated: "
                        f"i*={i_star} >= |entry region|={len(r_q)} for "
                        f"baseline=({a1},{a2}) bucket={bkt} "
                        f"acc_carry={acc_carry} anchor_t={anchor_t} "
                        f"tol_q={tol_q}"
                    )
            else:
                i_star = 0
            out.append((a1, a2, bkt, i_star, cur_bin, next_bin))
            cur_bin = next_bin + int(pdf["r_nclosed"].iloc[k][i_star])
            next_bin = cur_bin + 1
            acc_carry = int(pdf["r_exit_acc"].iloc[k][i_star])
            anchor_t = float(pdf["r_exit_t"].iloc[k][i_star])
            started = True
        return pd.DataFrame(
            [(*r, cur_bin, acc_carry, anchor_t) for r in out],
            columns=[
                "antenna1", "antenna2", "__bucket", "i_star",
                "entry_bin", "bin_base", "open_bin", "exit_acc", "exit_t",
            ],
        )

    return phase_b


def salted_bda_phase_c(rows: DataFrame, tol_q: int, span: float) -> DataFrame:
    """Phase C of `salted_bda_average`: the motion-prefix rows joined
    with their bucket's (i_star, entry_bin, bin_base) resolution in,
    per-bin partial fixed-point sums (bin_idx, n, tmin, tmax, swre,
    swim, sw) out."""
    import numpy as np

    c_schema = (
        "antenna1 int, antenna2 int, bin_idx long, n long, tmin double, "
        "tmax double, swre long, swim long, sw long"
    )

    def phase_c(key, pdf):
        # rows arrive in (time, row_id) order from the stream sort
        qb = pdf["__qb"].to_numpy()
        t = pdf["time"].to_numpy()
        n = len(pdf)
        i_star = int(pdf["i_star"].iat[0])
        entry_bin = int(pdf["entry_bin"].iat[0])
        bin_base = int(pdf["bin_base"].iat[0])
        bins = np.empty(n, dtype=np.int64)
        if i_star < 0:
            bins[:] = entry_bin
        else:
            bins[:i_star] = entry_bin
            local = 0
            aq, at = int(qb[i_star]), float(t[i_star])
            bins[i_star] = bin_base
            for j in range(i_star + 1, n):
                if int(qb[j]) - aq > tol_q or float(t[j]) - at > span:
                    local += 1
                    aq, at = int(qb[j]), float(t[j])
                bins[j] = bin_base + local
        # bins is nondecreasing in time order → reduceat segments; the
        # per-bin time extent is just the segment's first/last t
        starts = np.concatenate(
            ([0], np.flatnonzero(bins[1:] != bins[:-1]) + 1)
        )
        ends = np.concatenate((starts[1:], [n]))
        swre = np.add.reduceat(pdf["wre_q"].to_numpy(), starts)
        swim = np.add.reduceat(pdf["wim_q"].to_numpy(), starts)
        sw = np.add.reduceat(pdf["w_q"].to_numpy(), starts)
        a1, a2 = int(key[0]), int(key[1])
        return [
            (a1, a2, int(bins[s]), int(e - s), float(t[s]), float(t[e - 1]),
             int(swre[k]), int(swim[k]), int(sw[k]))
            for k, (s, e) in enumerate(zip(starts, ends))
        ]

    return _stream_by_groups(
        rows,
        ["antenna1", "antenna2", "__bucket"],
        ["time", "row_id", "u", "v", "w", "wre_q"],
        phase_c, c_schema,
        ["antenna1", "antenna2", "bin_idx", "n", "tmin", "tmax",
         "swre", "swim", "sw"],
    )
